package graft

/** In-query verification gates — the always-on `require()` blocks that
  * assert recall floors, losslessness, and invariants INSIDE a query
  * body (the p80/p28 discipline: where the brute-force oracle can only
  * run at sf0.01, a bounded exact probe asserts recall inside the run
  * itself at any scale).
  *
  * Round-11 postmortem: pricing those gates into BENCH query bodies
  * killed the round's bench signal — gates like the Jaccard probe truth
  * carry a corpus-linear (sometimes corpus-quadratic-in-the-probe) term
  * the operator itself doesn't, the bench pays them 4× (warmup + 3
  * passes), and every gate-inflated query then triggered a fresh-JVM
  * solo re-time, timing the driver bench out entirely (BENCH_r11
  * rc=124).
  *
  * The split (VERDICT r11 item 1a): gates stay ON everywhere
  * correctness is graded — Verify (the driver's oracle run, every
  * scale) and `sbt test` — and are switched OFF only by the TIMING
  * mains (Bench, ProbeJobs), which measure the operator. A timing artifact
  * records the mode in its JSON (`"gates"`), so a reader of
  * BENCH_r{N}.json sees which regime produced the numbers. Audit cost
  * and operator cost are both real; they are just different line items.
  */
object Gates {
  /** Default true: library users and the correctness surfaces always
    * run gated. Bench/ProbeJobs set false; SPARK_GRAFT_GATES=on forces
    * them back on for a gate-priced timing run. */
  @volatile var enabled: Boolean = true

  /** Run `body` (gate construction + its require()s) only when gates
    * are enabled. The gate block must be side-effect-free w.r.t. the
    * query's RESULT — a gate influences whether the query throws,
    * never what it returns. */
  def run(body: => Unit): Unit = if (enabled) body

  /** Resolve the mode a timing main should use: gates off unless the
    * environment forces them on. Accepts the usual truthy/falsy
    * spellings and REJECTS anything else loudly — a typo like
    * `SPARK_GRAFT_GATES=On ` silently producing a gates-off run that
    * the operator believes is gate-priced is exactly the kind of
    * mislabeled artifact the gates/timing split exists to prevent. */
  def configureForTiming(): Unit = {
    val truthy = Set("on", "1", "true", "yes")
    val falsy = Set("off", "0", "false", "no", "")
    enabled = sys.env.get("SPARK_GRAFT_GATES").map(_.trim.toLowerCase) match {
      case Some(v) if truthy(v) => true
      case Some(v) if falsy(v) => false
      case Some(v) =>
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_GATES='$v' is not a recognized value " +
            s"(use one of ${(truthy ++ falsy - "").toSeq.sorted.mkString("/")})")
      case None => false
    }
  }
}
