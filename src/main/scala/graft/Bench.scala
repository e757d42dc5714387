package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark harness. Protocol with the driver: the ONE line on
  * stdout is the result JSON (all Spark logging goes to stderr).
  *
  * Design (accumulated from twelve rounds of postmortems):
  *   - full materialization via a noop-format write — `.count()` lets
  *     Catalyst prune every unused projection, so projection-heavy queries
  *     would measure a bare scan;
  *   - NO separate untimed warmup pass (round-13 postmortem: the r12
  *     hardening kept warmup + pass 1 as the mandatory section, and on a
  *     1.45x-slow box that section ALONE measured 1005s — past the
  *     self-budget before anything optional ran. The same run showed the
  *     warmup pass buys ~5%: a fully-warmed pass totalled 489s vs ~516s
  *     cold, because JIT/codegen/footer warmup concentrates in the first
  *     few queries of ANY pass. So pass 1 is timed AND cold, and is the
  *     complete per-query map by itself);
  *   - MIN over up to 3 timed passes per query (min, not median: pass 1
  *     is cold, so with 2 samples the median would PICK the cold one;
  *     timing noise — JIT, GC, contention — is strictly additive, so the
  *     min of independent passes is the best estimator of feasible cost.
  *     The round-3 phantom-regression hazard that motivated medians is
  *     covered strictly better by min);
  *   - deterministic query order: pass 1 sorted by name; passes 2+
  *     cheapest-first by pass-1 time, so when the wall deadline cuts a
  *     pass the MOST queries have shed their cold-pass inflation (cheap
  *     queries carry proportionally the largest fixed overhead);
  *   - a failed query is reported (negative sentinel + errors map), never
  *     silently recorded as a fast success;
  *   - PASS-MAJOR timing (round-4 postmortem: with query-major reps the
  *     first queries absorbed post-warmup GC/JIT churn in ALL their
  *     reps; interleaving whole passes makes that churn land on at most
  *     one of a query's samples — and the min discards it);
  *   - MACHINE-FACTOR-NORMALIZED movers (round-12 postmortem, the rc=124
  *     root cause): movers used to be flagged at ±1.5x vs the committed
  *     baseline's ABSOLUTE seconds, so on any box whose speed differs
  *     from the baseline box the whole surface drifts together — the
  *     judge measured a median machine ratio of 1.36x pushing 203/238
  *     queries over the line, and the resulting fork storm (114 forked
  *     re-times x ~30s boot each) blew every kill budget two rounds
  *     running. The fix: estimate the global machine factor as the
  *     median per-query ratio vs the reference map and flag only queries
  *     deviating >1.5x from THAT — a real single-query regression still
  *     deviates from the global factor; a slow box does not;
  *   - SELF-IMPOSED WALL DEADLINE (round-12 item 1b): pass 1 is
  *     mandatory (it produces a complete per-query map); passes 2-3
  *     run per-query while the pass deadline allows, then the DuckDB
  *     ratio (cheap, feeds the headline spark/duck comparison — it runs
  *     BEFORE the tail phases so a tight budget degrades those, not
  *     the ratio), then an in-session RESCUE pass giving the
  *     single-sample tail a second min() sample (r13: measured
  *     contention bursts inflate contiguous pass-1 blocks up to 10x,
  *     and a boot-free extra sample rescues ~5x more queries per
  *     second than a fork), then solo re-time forks for surviving
  *     movers with the remainder. Default
  *     SPARK_GRAFT_BENCH_WALL_S=1260s: BENCH_r10 proves the driver
  *     tolerates >=1447s of sbt wall, sbt boot costs only ~31s
  *     (measured r13), and a 1.6x-slow box state needs ~690s for a
  *     full sf0.1 pass — 1260 fits pass 1 + most of pass 2 + the
  *     ratio + re-times there while keeping >=150s of headroom under
  *     the worst already-proven-tolerated driver wall. Anything
  *     degraded is recorded in the artifact — a bounded honest run
  *     beats an unbounded killed one;
  *   - PARTIAL-RESULT FLUSH (round-12 item 1c): the cumulative per-query
  *     map is printed to stderr after every pass and a JVM shutdown hook
  *     writes/prints the best-known JSON — a driver kill (rc=124) now
  *     leaves a complete-ish map in both the stderr tail and
  *     bench_result.json instead of nothing;
  *   - PER-FORK TIMEOUT (round-12 item 5): each re-time fork is bounded
  *     (SPARK_GRAFT_FORK_TIMEOUT_S, default 90s) so one pathological
  *     suspect cannot eat the whole re-time budget, and the budget is
  *     checked per 2-query fork, not per 6-query batch.
  */
/** Which build produced an artifact: round 5 burned judge hours on "which
  * commit did the driver actually run?" — every Verify/Bench artifact now
  * carries the commit sha and a wall-clock stamp. */
object Provenance {
  lazy val sha: String =
    try scala.sys.process.Process(Seq("git", "rev-parse", "HEAD")).!!.trim
    catch { case _: Throwable => "unknown" }
  def timestamp: String = java.time.Instant.now().toString
  /** provenance.json body (kept OUT of oracle_sql.json — the driver
    * iterates that file's keys as query names). */
  def json: String =
    s"""{"sha":"$sha","generated_at":"$timestamp"}"""
}

/** The mover-rule arithmetic, factored out of [[Bench]]'s main so the
  * r12 rc=124 root-cause fix is spec-guarded (BenchRulesSpec): on a box
  * whose speed differs uniformly from the committed baseline's box, the
  * machine factor — the median per-query ratio — absorbs the drift and
  * NO query is flagged; a single query that genuinely moved still
  * deviates from the median and is. */
object BenchRules {
  def median(ts: Vector[Double]): Double = ts.sorted.apply(ts.size / 2)

  /** Global machine factor vs a reference map: the median per-query
    * ratio over queries big enough on BOTH sides (>=0.2s) to be signal
    * rather than scheduler jitter. Fewer than 8 such queries -> 1.0
    * (no evidence of a different box). */
  def machineFactor(current: Seq[(String, Double)],
                    ref: Map[String, Double]): Double = {
    val ratios = current.collect {
      case (n, med) if med >= 0.2 && ref.get(n).exists(_ >= 0.2) =>
        med / ref(n)
    }.toVector
    if (ratios.size < 8) 1.0 else median(ratios)
  }

  /** moved = deviates >1.5x from the machine-factor-scaled reference
    * (and by >50ms after scaling, so micro-query jitter stays quiet). */
  def moved(med: Double, p: Double, f: Double): Boolean = {
    val exp = f * p
    p > 0 && (med > 1.5 * exp || exp > 1.5 * med) &&
      math.abs(med - exp) > 0.05 * math.max(1.0, f)
  }
}

object Bench {
  def r3(v: Double): Double = math.round(v * 1000) / 1000.0

  /** Round-14 driver-contract repair (VERDICT r13 item 1): the driver
    * json-parses ONE line recovered from a 2000-char stdout tail. The
    * full result line is ~7KB (238 query names plus detail arrays), so
    * its head never survives that window — every BENCH_r01..r13 artifact
    * has parsed:null. This builds a budgeted companion line: detail
    * arrays become counts in `tail`, and the `queries` map is filled
    * slowest-first with as many entries as keep the whole line within
    * `maxLen`. It is printed LAST so the tail window keeps it intact;
    * the full per-query map stays in the full line and bench_result.json. */
  def compactResultLine(head: String, tail: String,
                        entriesSlowFirst: Seq[(String, Double)],
                        maxLen: Int): String = {
    val sb = new StringBuilder
    var used = head.length + tail.length + 2 // the {} around queries
    var n = 0
    val it = entriesSlowFirst.iterator
    var outOfRoom = false
    while (it.hasNext && !outOfRoom) {
      val (k, v) = it.next()
      val e = "\"" + k + "\":" + r3(v)
      val add = e.length + (if (n > 0) 1 else 0)
      if (used + add <= maxLen) {
        if (n > 0) sb.append(',')
        sb.append(e); used += add; n += 1
      } else outOfRoom = true
    }
    head + "{" + sb.toString + "}" + tail
  }

  /** Budget for the compact line: 2000-char driver tail minus the sbt
    * epilogue observed after the final program line ([success] ~95 chars,
    * GC [warn] ~340 chars when it fires — damped via .jvmopts but kept in
    * the reserve) and a newline margin. */
  val CompactMaxLen = 1450

  def main(args: Array[String]): Unit = {
    // Isolated landing root: a bench run (typically a different scale
    // factor) must never clobber the landed files a Verify-then-oracle
    // compare reads. Must be set before any query module initializes.
    Land.root = "/tmp/graft_bench_land"
    // Bench times the OPERATOR, not its audit (VERDICT r11 item 1a):
    // in-query verification gates stay on in Verify/sbt-test — the
    // correctness surfaces — and off here, where a corpus-linear gate
    // paid 4× per query (warmup + 3 passes) timed out the whole r11
    // driver bench. SPARK_GRAFT_GATES=on restores gate-priced timing.
    Gates.configureForTiming()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val benchStartNs = System.nanoTime()
    def wallS: Double = (System.nanoTime() - benchStartNs) / 1e9
    val wallBudgetS =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WALL_S", "1260").toDouble
    val spark = Session(Session.cpus)

    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // Reference maps for the mover rule are read UP FRONT: partial
    // flushes below overwrite bench_result.json during the run, so a
    // late read would compare this run against its own snapshot.
    def queriesOf(path: java.nio.file.Path): Map[String, Double] = try {
      val txt = java.nio.file.Files.readString(path)
      // only comparable against the SAME scale factor: a dev run at
      // another sf would otherwise flag the whole surface as movers
      val sameSf = """"sf":"([^"]*)"""".r.findFirstMatchIn(txt)
        .exists(_.group(1) == sfDir)
      // a killed run's flushed snapshot may hold cold warmup walls —
      // never anchor the mover rule to one
      val partial = txt.contains(""""partial":true""")
      if (!sameSf || partial) Map.empty
      else """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt).map(_.group(1))
        .map { body =>
          """"([^"]+)":(-?[0-9.eE+-]+)""".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }.getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }
    val prevQueries = queriesOf(java.nio.file.Paths.get("bench_result.json"))
    // BENCH_baseline.json is the last JUDGED round's bench (refreshed
    // from git history each round — the driver's BENCH_r{N}.json keeps
    // only a truncated tail, so the full per-query map must be
    // snapshotted explicitly); falls back to the newest BENCH_r{N}.json
    // for repos without the snapshot.
    val committedQueries: Map[String, Double] = {
      val base = queriesOf(java.nio.file.Paths.get("BENCH_baseline.json"))
      if (base.nonEmpty) base
      else {
        val rx = """BENCH_r(\d+)\.json""".r
        val files = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
          .flatMap(f => f.getName match {
            case rx(n) => Some(n.toInt -> f.toPath)
            case _ => None
          })
        if (files.isEmpty) Map.empty else queriesOf(files.maxBy(_._1)._2)
      }
    }
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[String] =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
      // each invocation builds FRESH frames, so a previous run's persists
      // are dead weight — release keeps the long bench session's block
      // manager flat (and the unpersist cost lands inside the timed run,
      // where it honestly belongs: a real pipeline pays it too)
      finally graft.operators.Broadcasts.release(spark)

    // ---- live state the shutdown hook snapshots on a kill ----
    val times = collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val lastErr = collection.mutable.Map.empty[String, String]
    val degraded = collection.mutable.Buffer.empty[String]
    @volatile var passesCompleted = 0
    @volatile var finished = false

    // Estimator: min over passes (pass 1 is cold — see the Scaladoc).
    def est(ts: Vector[Double]): Double = if (ts.isEmpty) -1.0 else ts.min

    // `metric` is "total" only on lines a driver may legitimately parse
    // as the result (the final line; the shutdown hook's kill flush) —
    // mid-run stderr flushes say "partial" so a naive `grep '{"metric'`
    // over the combined sbt output can never pick one up as the result.
    def snapshotJson(metric: String): String = times.synchronized {
      val qs = ordered.map { case (name, _) =>
        "\"" + name + "\":" + est(times(name))
      }.mkString("{", ",", "}")
      s"""{"metric":"$metric","value":-1,"unit":"sec","partial":true,"passes":$passesCompleted,"queries":$qs,"gates":"${if (Gates.enabled) "on" else "off"}","sf":"$sfDir","sha":"${Provenance.sha}","generated_at":"${Provenance.timestamp}"}"""
    }
    def flushPartial(stage: String): Unit = {
      System.err.println(s"[bench-partial after $stage] ${snapshotJson("partial")}")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_result.json"), snapshotJson("total"))
      catch { case _: Throwable => }
    }
    // A driver kill (rc=124 is SIGTERM) runs shutdown hooks: leave the
    // best-known per-query map on stdout AND in bench_result.json, so a
    // killed run still produces a parseable artifact (VERDICT r12 1c).
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      if (!finished) {
        val js = snapshotJson("total")
        println(js)
        // compact last line for the driver's 2000-char tail (same shape
        // as the normal-completion compact line below)
        val slowFirst = times.synchronized {
          ordered.map { case (n, _) => n -> est(times(n)) }
        }.filter(_._2 >= 0).sortBy(-_._2)
        println(compactResultLine(
          s"""{"metric":"total","value":-1,"unit":"sec","partial":true,"passes":$passesCompleted,"queries":""",
          s""","queries_n":${ordered.size},"gates":"${if (Gates.enabled) "on" else "off"}","sf":"$sfDir","sha":"${Provenance.sha}"}""",
          slowFirst, CompactMaxLen))
        System.err.println(s"[bench] KILLED at ${wallS.toInt}s — flushed partial result")
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get("bench_result.json"), js)
        catch { case _: Throwable => }
      }))

    // Mid-pass flushes every N queries: a kill can land before the first
    // pass boundary (the r11/r12 kills hit ~44 queries in), and the
    // shutdown hook's stdout/stderr die with sbt's pipes — only lines
    // emitted BEFORE the kill reach the tail the driver keeps.
    var sinceFlush = 0
    def tickFlush(stage: String): Unit = {
      sinceFlush += 1
      if (sinceFlush >= 60) { sinceFlush = 0; flushPartial(stage) }
    }

    var errors = Map.empty[String, String]
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Reserve tail room for the DuckDB ratio + re-times; passes 2+ stop
    // when they'd eat into it. Pass 1 is NEVER skipped — it is what
    // makes the per-query map complete (timed cold; the min over later
    // passes sheds the cold inflation).
    val retimeBudgetS =
      sys.env.getOrElse("SPARK_GRAFT_RETIME_BUDGET_S", "240").toDouble
    val passDeadlineS = wallBudgetS - math.min(retimeBudgetS, 0.3 * wallBudgetS)
    // Pass-major: each pass times every query once, so a burst of machine
    // or GC contention is spread across queries instead of concentrated in
    // all reps of whichever query is running when it hits. Pass 1 runs in
    // name order; passes 2+ cheapest-first (by current estimate), so a
    // deadline cut leaves the fewest queries stuck on their cold sample.
    var passAborted = false
    def runPass(pass: Int, order: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]): Unit = {
      for ((name, fn) <- order) {
        val over = pass > 1 && wallS > passDeadlineS
        if (over && !passAborted) {
          passAborted = true
          degraded += s"passes aborted in pass $pass at $name (${wallS.toInt}s > ${passDeadlineS.toInt}s pass deadline)"
          System.err.println(s"[bench] ${degraded.last}")
        }
        if (!over) {
          val t0 = System.nanoTime()
          val err = runOnce(name, fn)
          val sec = (System.nanoTime() - t0) / 1e9
          err match {
            case Some(m) =>
              System.err.println(s"[bench] $name pass FAILED: $m")
              lastErr(name) = m
            case None => times.synchronized { times(name) :+= sec }
          }
          if (name == order.last._1) {
            passesCompleted = pass
            sinceFlush = 0
            flushPartial(s"pass $pass")
          } else tickFlush(s"pass $pass query $name")
        }
      }
    }
    runPass(1, ordered)
    // failed queries first (estimate -1 sorts lowest: they get their
    // retry at minimal wall cost), then cheapest-first
    val cheapFirst = ordered.sortBy { case (n, _) => est(times(n)) }
    for (pass <- 2 to reps) runPass(pass, cheapFirst)

    // DuckDB stand-in ratio, recorded per round instead of recomputed by
    // hand each judge pass (VERDICT r7 item 7): the q-subset's oracle SQL
    // timed in in-process DuckDB over the same parquet, next to Spark's
    // own q-subset seconds. Runs right after the passes: it is cheap
    // (~10-40s), feeds the headline spark/duck comparison, and must not
    // be starved by the rescue pass or the re-time forks. Best-effort —
    // a missing python/duckdb or an exhausted wall budget yields -1,
    // never a failed bench.
    val duckPerQuery: Map[String, Double] =
      if (wallS > wallBudgetS) {
        degraded += "duckdb ratio skipped (wall budget exhausted)"
        Map.empty
      } else try {
        val tmp = java.nio.file.Files.createTempFile("graft_oracle", ".json")
        java.nio.file.Files.writeString(tmp, OracleJson(SparkEntry.oracleSql))
        val out = scala.sys.process.Process(
          Seq("python3", "tools/duckdb_bench.py", sfDir, tmp.toString)).!!.trim
        java.nio.file.Files.deleteIfExists(tmp)
        """"queries":\s*\{([^}]*)\}""".r.findFirstMatchIn(out)
          .map(m => """"([^"]+)":\s*(-?[0-9.eE+]+)""".r.findAllMatchIn(m.group(1))
            .map(q => q.group(1) -> q.group(2).toDouble).toMap)
          .getOrElse(Map.empty[String, Double])
      } catch { case _: Throwable => Map.empty[String, Double] }

    // RESCUE PASS (r13): when the deadline cut passes 2+, the uncovered
    // tail holds single cold samples — and the r13 validation runs
    // measured pass-1 contention bursts inflating contiguous blocks up
    // to 10x (q69-q88 in one run). A fork re-time pays ~25s of Spark
    // boot per 2 queries; an IN-SESSION extra sample pays nothing and
    // the min-of-samples estimator means it can only improve the map.
    // So single-sample queries get one in-session re-run, most
    // suspicious first (largest estimate relative to the factor-scaled
    // committed reference), while the wall allows — each attempted only
    // if its own projected cost fits. True movers that survive this
    // still reach the fork stage below for a solo-quality number.
    @volatile var rescued = 0
    locally {
      val estNow = ordered.map { case (n, _) => n -> est(times(n)) }.toMap
      val preFactor = BenchRules.machineFactor(
        ordered.map { case (n, _) => n -> estNow(n) }, committedQueries)
      val single = ordered.filter { case (n, _) => times(n).size <= 1 }
      val order = single.sortBy { case (n, _) =>
        -committedQueries.get(n).map(r => estNow(n) / (r * preFactor))
          .filter(_ > 0).getOrElse(1.0)
      }
      for ((name, fn) <- order) {
        val fits = wallS + math.max(estNow(name), 0.0) * 1.2 < wallBudgetS - 60
        if (fits) {
          val t0 = System.nanoTime()
          if (runOnce(name, fn).isEmpty) {
            times.synchronized { times(name) :+= (System.nanoTime() - t0) / 1e9 }
            rescued += 1
          }
          tickFlush(s"rescue query $name")
        }
      }
      if (rescued > 0) flushPartial("rescue pass")
    }

    // Round-over-round movers (self-acting rule, VERDICT r6 item 7 +
    // r8 item 1b + r12 item 1a): any query whose interleaved median moved
    // >1.5x vs EITHER the previous dev run (bench_result.json) OR the
    // committed baseline (BENCH_baseline.json), AFTER normalizing each
    // reference by the global machine factor, is re-timed solo. Diffing
    // only the latest dev file lets gradual cross-round creep evade
    // re-timing forever; the committed file anchors the comparison to a
    // judged number; the machine factor keeps a slower/faster box from
    // flagging the whole surface at once. (Both reference maps were read
    // before the first partial flush overwrote bench_result.json.)
    val interleaved = ordered.map { case (name, _) =>
      val ts = times(name)
      // a query is failed only when NO pass succeeded
      if (ts.isEmpty) lastErr.get(name).foreach(m => errors += (name -> m))
      name -> est(ts)
    }
    val interMap = interleaved.toMap
    // Machine factors recorded in the artifact (see BenchRules for the
    // r12 rationale and BenchRulesSpec for the law).
    val prevFactor = BenchRules.machineFactor(interleaved, prevQueries)
    val commFactor = BenchRules.machineFactor(interleaved, committedQueries)
    val movers = interleaved.collect {
      case (name, med) if med >= 0 &&
        (prevQueries.get(name).exists(BenchRules.moved(med, _, prevFactor)) ||
          committedQueries.get(name).exists(BenchRules.moved(med, _, commFactor))) => name
    }
    // Re-time priority: absolute seconds moved vs the nearest
    // factor-scaled committed/prev number — when the wall-clock budget
    // below cuts the list, the biggest distortions get re-timed first.
    // (The old interleaved-median-vs-own-best contention rule is gone:
    // the min-of-passes estimator already discards a contended sample;
    // a query contended in EVERY pass deviates from the factor-scaled
    // reference and lands here as a mover.)
    def secondsMoved(name: String): Double = {
      val med = interMap(name)
      val refs = Seq(
        prevQueries.get(name).map(_ * prevFactor),
        committedQueries.get(name).map(_ * commFactor)).flatten.filter(_ > 0)
      if (refs.isEmpty) 0.0 else refs.map(r => math.abs(med - r)).max
    }
    val suspects = movers.distinct.sortBy(n => -secondsMoved(n))
    val fns = ordered.toMap
    // Isolated re-times run in a FRESH forked JVM (VERDICT r8 item 1a):
    // re-timing inside this loaded 230+-query session overstates by
    // 1.2-2.3x (GC pressure, code-cache churn, block-manager residue).
    // `run / fork := true` means java.class.path IS the full classpath,
    // so one child JVM runs graft.TimeQ over every suspect (each twice,
    // min taken — TimeQ itself warms untimed per invocation). Each fork
    // is bounded by SPARK_GRAFT_FORK_TIMEOUT_S (default 90s) — one
    // pathological suspect kills its own fork, not the run (r12 item 5).
    val forkTimeoutS =
      sys.env.getOrElse("SPARK_GRAFT_FORK_TIMEOUT_S", "90").toDouble
    val forkTimeouts = collection.mutable.Buffer.empty[String]
    def forkTimeQ(names: Seq[String]): Map[String, Double] = {
      // same module-opens + heap as build.sbt's javaOptions (they arrive
      // as paired argv elements, so RuntimeMXBean introspection would
      // mangle them — restate the known set instead)
      val jvmArgs = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
        .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED")) :+
        s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}"
      val javaBin = java.nio.file.Paths.get(
        sys.props("java.home"), "bin", "java").toString
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.TimeQ", sfDir) ++
        names.flatMap(n => Seq(n, n))
      val buf = new StringBuilder
      val pl = scala.sys.process.ProcessLogger(
        l => buf.synchronized { buf.append(l).append('\n'); () },
        l => System.err.println(l))
      val proc = scala.sys.process.Process(cmd).run(pl)
      val deadlineNs = System.nanoTime() + (forkTimeoutS * 1e9).toLong
      while (proc.isAlive() && System.nanoTime() < deadlineNs)
        Thread.sleep(200)
      if (proc.isAlive()) {
        proc.destroy()
        forkTimeouts ++= names
        System.err.println(s"[bench] re-time fork for ${names.mkString(",")} " +
          s"killed at ${forkTimeoutS.toInt}s; keeping whatever it printed")
      }
      val out = buf.synchronized(buf.toString)
      """TIMEQ (\S+) ([0-9.]+) s""".r.findAllMatchIn(out)
        .map(m => m.group(1) -> m.group(2).toDouble).toSeq
        .groupMapReduce(_._1)(_._2)(math.min)
    }
    // WALL-CLOCK re-time budget (VERDICT r11 item 1b): each fork pays
    // ~30s of Spark boot plus warm+timed runs, so a count cap alone
    // cannot bound the storm when per-query cost explodes. Suspects are
    // re-timed in 2-query forks, highest seconds-moved first, while BOTH
    // the re-time budget and the run's wall budget allow; the remainder
    // keep their interleaved medians and are listed in the artifact.
    val isolated = collection.mutable.Map.empty[String, Double]
    val retimesSkipped = collection.mutable.Buffer.empty[String]
    val retimeStart = System.nanoTime()
    def retimeElapsedS = (System.nanoTime() - retimeStart) / 1e9
    // Adaptive fork packing (r13: 155s of re-time budget covered only 14
    // queries at a fixed 2/fork — each fork pays ~25s of Spark boot, so
    // cheap suspects should share one): greedy-fill each fork, in
    // priority order, until the projected in-fork work (3 runs x the
    // current estimate + 2s fixed per query) would crowd the 90s fork
    // timeout, capped at 6 queries.
    val forkBatches = {
      val out = collection.mutable.Buffer.empty[Vector[String]]
      var cur = Vector.empty[String]; var work = 0.0
      for (n <- suspects) {
        val w = 3 * math.max(interMap(n), 0.0) + 2.0
        if (cur.nonEmpty && (cur.size >= 6 || work + w > 0.55 * forkTimeoutS)) {
          out += cur; cur = Vector.empty; work = 0.0
        }
        cur = cur :+ n; work += w
      }
      if (cur.nonEmpty) out += cur
      out.toSeq
    }
    for (batch <- forkBatches) {
      val outOfTime = retimeElapsedS > retimeBudgetS ||
        wallS > wallBudgetS - forkTimeoutS
      if (outOfTime) retimesSkipped ++= batch
      else try isolated ++= forkTimeQ(batch) catch {
        case e: Throwable =>
          System.err.println(s"[bench] fresh-JVM re-time failed (${e.getMessage}); falling back in-process")
          isolated ++= batch.map { name =>
            System.gc(); Thread.sleep(100)
            val ts = Vector.fill(3) {
              val t0 = System.nanoTime()
              runOnce(name, fns(name))
              (System.nanoTime() - t0) / 1e9
            }
            name -> est(ts)
          }
      }
    }
    if (retimesSkipped.nonEmpty) {
      degraded += s"re-time budget exhausted after ${retimeElapsedS.toInt}s; " +
        s"kept interleaved medians for ${retimesSkipped.size} suspects"
      System.err.println(s"[bench] ${degraded.last}: ${retimesSkipped.mkString(", ")}")
    }
    if (forkTimeouts.nonEmpty)
      degraded += s"re-time forks killed at ${forkTimeoutS.toInt}s for: ${forkTimeouts.mkString(", ")}"
    // Headline per-query = solo median where re-timed (never the larger
    // of the two: re-timing exists because the contended number is wrong)
    val results = interleaved.map { case (name, med) =>
      name -> isolated.get(name).map(math.min(_, med)).getOrElse(med)
    }
    def numMap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val qs = numMap(results)
    val interJson = numMap(suspects.map(n => n -> interMap(n)))
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val errJson = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(120) + "\""
    }.mkString("{", ",", "}")
    // both subset sums cover EXACTLY the intersection of successes:
    // queries DuckDB failed drop from Spark's sum AND queries Spark
    // failed drop from DuckDB's — a one-sided failure can no longer
    // skew the published ratio in either direction
    val common = results.collect {
      case (n, v) if n.startsWith("q") && v >= 0 && duckPerQuery.contains(n) => n
    }.toSet
    val sparkSubset = results.collect {
      case (n, v) if common(n) => v
    }.sum
    val duckSubset =
      if (duckPerQuery.isEmpty) -1.0
      else math.round(common.toSeq.map(duckPerQuery).sum * 1000) / 1000.0
    // Bench-honesty flags (VERDICT r10 item 8): queries whose contended
    // median exceeded 3x their reported solo number carry an explicit
    // marker in the artifact — a reader of BENCH_r{N}.json sees WHICH
    // headline numbers came from a solo re-time after heavy contention
    // rather than reconstructing it from the interleaved map by hand.
    val contentionFlags = results.collect {
      case (n, v) if v > 0 && interMap.get(n).exists(_ > 3 * v) => n
    }
    def strArr(xs: Seq[String]): String =
      xs.map("\"" + _.replaceAll("[\"\\\\]", " ") + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","estimator":"min_of_passes","partial":false,"passes":$passesCompleted,"rescued":$rescued,"wall_s":${math.round(wallS)},"wall_budget_s":${math.round(wallBudgetS)},"machine_factor":{"prev":${math.round(prevFactor * 1000) / 1000.0},"committed":${math.round(commFactor * 1000) / 1000.0}},"queries":$qs,"interleaved":$interJson,"contention_flags":${strArr(contentionFlags)},"retimes_skipped":${strArr(retimesSkipped.toSeq)},"degraded":${strArr(degraded.toSeq)},"gates":"${if (Gates.enabled) "on" else "off"}","failed":${errors.size},"errors":$errJson,"spark_subset_secs":${math.round(sparkSubset * 1000) / 1000.0},"duckdb_subset_secs":$duckSubset,"sf":"$sfDir","sha":"${Provenance.sha}","generated_at":"${Provenance.timestamp}"}"""
    // Full line first (complete per-query map; also persisted to
    // bench_result.json), then the budgeted compact line LAST so the
    // driver's 2000-char output tail holds one whole parseable JSON line
    // (build.sbt's run/outputStrategy := StdoutOutput keeps both lines
    // free of sbt's "[info] " prefix).
    finished = true
    println(json)
    val compactHead =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","estimator":"min_of_passes","partial":false,"passes":$passesCompleted,"rescued":$rescued,"wall_s":${math.round(wallS)},"machine_factor":{"prev":${r3(prevFactor)},"committed":${r3(commFactor)}},"queries":"""
    val compactTail =
      s""","queries_n":${results.size},"failed":${errors.size},"spark_subset_secs":${r3(sparkSubset)},"duckdb_subset_secs":$duckSubset,"movers_n":${suspects.size},"retimes_skipped_n":${retimesSkipped.size},"contention_flags_n":${contentionFlags.size},"degraded_n":${degraded.size},"gates":"${if (Gates.enabled) "on" else "off"}","sf":"$sfDir","sha":"${Provenance.sha}"}"""
    println(compactResultLine(compactHead, compactTail,
      results.filter(_._2 >= 0).sortBy(-_._2), CompactMaxLen))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_result.json"), json)
    spark.stop()
  }
}
