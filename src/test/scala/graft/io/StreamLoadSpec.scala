package graft.io

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec

/** S11 live stream-load sink against an in-process HTTP server: wire
  * headers, columns-mapping first line, FE->BE redirect with re-attached
  * auth (curl --location-trusted semantics), retry-on-failure, Status
  * rejection, and the executor-side dataset path. */
class StreamLoadSpec extends SparkSpec {
  import spark.implicits._

  private case class Seen(path: String, headers: Map[String, String], body: String)

  /** Tiny stream-load endpoint: records requests, scriptable replies. */
  private def withServer(reply: HttpExchange => Unit)(f: (Int, mutable.Buffer[Seen]) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val seen = mutable.Buffer.empty[Seen]
    server.createContext("/", { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      seen.synchronized {
        seen += Seen(ex.getRequestURI.getPath,
          ex.getRequestHeaders.entrySet().iterator().next() // touch to force load
            match { case _ =>
              val hs = ex.getRequestHeaders
              val m = mutable.Map.empty[String, String]
              hs.forEach((k, v) => m(k.toLowerCase) = v.get(0))
              m.toMap
            },
          body)
      }
      reply(ex)
    })
    server.start()
    try f(server.getAddress.getPort, seen)
    finally server.stop(0)
  }

  private def ok(ex: HttpExchange, json: String = """{"Status": "Success", "NumberLoadedRows": 3, "LoadBytes": 42}"""): Unit = {
    val b = json.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(200, b.length)
    ex.getResponseBody.write(b); ex.close()
  }

  private def csvFile(lines: String*): java.nio.file.Path = {
    val p = Files.createTempFile("sl", ".csv")
    Files.writeString(p, lines.mkString("\n") + "\n")
    p
  }

  test("PUT carries the reference wire headers; plain file has skip_lines 0") {
    withServer(ok(_)) { (port, seen) =>
      val cfg = StreamLoad.Config("127.0.0.1", port, user = "u", password = "pw")
      val r = StreamLoad.loadFile(cfg, "db1", "t1", csvFile("1☆a", "2☆b"))
      assert(r.rows == 3 && r.bytes == 42)
      val s = seen.head
      assert(s.path == "/api/db1/t1/_stream_load")
      assert(s.headers("format") == "csv")
      assert(s.headers("column_separator") == "\\xe2\\x98\\x86") // ☆ as hex escape
      assert(s.headers("skip_lines") == "0")
      assert(!s.headers.contains("columns"))
      assert(s.headers("authorization") ==
        "Basic " + java.util.Base64.getEncoder.encodeToString("u:pw".getBytes))
      assert(s.body == "1☆a\n2☆b\n")
    }
  }

  test("columns: first line becomes the mapping header + skip_lines 1") {
    withServer(ok(_)) { (port, seen) =>
      val cfg = StreamLoad.Config("127.0.0.1", port)
      val f = csvFile("columns: raw_b,`b`=bitmap_from_array(raw_b)", "1☆[1,2]")
      StreamLoad.loadFile(cfg, "db1", "t1", f)
      val s = seen.head
      assert(s.headers("skip_lines") == "1")
      assert(s.headers("columns") == "raw_b,`b`=bitmap_from_array(raw_b)")
      assert(s.body.startsWith("columns: ")) // file goes up whole
    }
  }

  test("307 redirect is followed with auth re-attached (location-trusted)") {
    var first = true
    withServer { ex =>
      if (first && ex.getRequestURI.getPath.startsWith("/api/")) {
        first = false
        ex.getResponseHeaders.add("Location",
          s"http://127.0.0.1:${ex.getLocalAddress.getPort}/be/redirected")
        ex.sendResponseHeaders(307, -1); ex.close()
      } else ok(ex)
    } { (port, seen) =>
      val cfg = StreamLoad.Config("127.0.0.1", port, user = "u", password = "s3cret")
      StreamLoad.loadFile(cfg, "db1", "t1", csvFile("1☆x"))
      assert(seen.size == 2)
      assert(seen(1).path == "/be/redirected")
      assert(seen(1).headers("authorization") == seen(0).headers("authorization"))
      assert(seen(1).body == seen(0).body)
    }
  }

  test("retries on failure reply, then succeeds; Status != Success is an error") {
    var n = 0
    withServer { ex =>
      n += 1
      if (n < 3) ok(ex, """{"Status": "Fail", "Message": "try again"}""")
      else ok(ex)
    } { (port, _) =>
      val cfg = StreamLoad.Config("127.0.0.1", port, maxRetries = 3)
      StreamLoad.loadFile(cfg, "db1", "t1", csvFile("1☆x")) // 3rd attempt lands
    }
    withServer(ok(_, """{"Status": "Fail", "Message": "bad column", "ErrorURL": "http://x/err"}""")) { (port, _) =>
      val cfg = StreamLoad.Config("127.0.0.1", port, maxRetries = 2)
      val e = intercept[StreamLoad.LoadError] {
        StreamLoad.loadFile(cfg, "db1", "t1", csvFile("1☆x"))
      }
      assert(e.getMessage.contains("bad column") && e.getMessage.contains("http://x/err"))
    }
  }

  test("Label Already Exists + committed existing job is SUCCESS (idempotent replay), aborted is not") {
    // a replayed label whose first attempt COMMITTED: the server's dedup
    // answered for us — this is the idempotency protocol working
    val committed = StreamLoad.parseResult(
      """{"Status": "Label Already Exists", "ExistingJobStatus": "FINISHED"}""")
    assert(committed == StreamLoad.LoadResult(0, 0))
    assert(StreamLoad.parseResult(
      """{"Status": "Label Already Exists", "ExistingJobStatus": "VISIBLE"}""")
      == StreamLoad.LoadResult(0, 0))
    // ...but an existing label whose job ABORTED must stay a failure so
    // the retry loop (fresh attempt, same label) re-drives the load
    val e = intercept[StreamLoad.LoadError] {
      StreamLoad.parseResult(
        """{"Status": "Label Already Exists", "ExistingJobStatus": "ABORTED"}""")
    }
    assert(e.getMessage.contains("ABORTED"))
    intercept[StreamLoad.LoadError] {
      StreamLoad.parseResult("""{"Status": "Label Already Exists"}""")
    }
    // end-to-end: PUT replies label-exists/FINISHED → loadFile succeeds
    withServer(ok(_, """{"Status": "Label Already Exists", "ExistingJobStatus": "FINISHED"}""")) { (port, _) =>
      val cfg = StreamLoad.Config("127.0.0.1", port, maxRetries = 1)
      val r = StreamLoad.loadFile(cfg, "db1", "t1", csvFile("1☆x"))
      assert(r.rows == 0L)
    }
  }

  test("loadDir drives every part file in order; dry-run sends nothing") {
    withServer(ok(_)) { (port, seen) =>
      val dir = Files.createTempDirectory("sl_dir")
      Files.writeString(dir.resolve("part-001.csv"), "1☆a\n")
      Files.writeString(dir.resolve("part-000.csv"), "0☆z\n")
      Files.writeString(dir.resolve("_SUCCESS"), "")
      val cfg = StreamLoad.Config("127.0.0.1", port)
      val rs = StreamLoad.loadDir(cfg, "db1", "t1", dir.toString)
      assert(rs.size == 2 && seen.map(_.body) == Seq("0☆z\n", "1☆a\n"))

      seen.clear()
      StreamLoad.loadDir(cfg.copy(dryRun = true), "db1", "t1", dir.toString)
      assert(seen.isEmpty)
    }
  }

  test("loadDataset: every partition streams itself; wire shape matches writeCsv") {
    withServer(ok(_)) { (port, seen) =>
      val cfg = StreamLoad.Config("127.0.0.1", port)
      val df = Seq((1L, "a", true), (2L, null: String, false), (3L, "c", true))
        .toDF("id", "s", "flag").repartition(2)
      StreamLoad.loadDataset(df, cfg, "db1", "t1")
      val lines = seen.flatMap(_.body.split("\n")).sorted
      assert(lines == Seq("1☆a☆1", "2☆\\N☆0", "3☆c☆1"))
      assert(seen.size == 2) // one request per non-empty partition
    }
  }

  test("gendata heads every BITMAP/HLL part file with the mapping loadFile sends as columns") {
    withServer(ok(_)) { (port, seen) =>
      val ddl = Files.createTempFile("sl_ddl", ".sql")
      Files.writeString(ddl, "CREATE TABLE bh (id bigint NOT NULL, " +
        "b bitmap NOT NULL, h hll NULL)")
      val out = Files.createTempDirectory("sl_gen").toString
      graft.cli.Cli.run(spark, "gendata", Map("ddl" -> ddl.toString,
        "out" -> out, "rows" -> "40", "rows-per-file" -> "15"))
      val mapping = graft.gen.TableGen.streamLoadMapping(
        graft.ddl.DorisDdl.parseCreateTable(Files.readString(ddl)),
        graft.genrule.GenRules.buildEnv(graft.genrule.GenRules.empty)).get
      val dir = s"$out/bh/conf_0"
      val parts = Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".csv"))
      assert(parts.length >= 2)
      parts.foreach(p => assert(Files.readAllLines(p).get(0) == mapping))
      StreamLoad.loadDir(StreamLoad.Config("127.0.0.1", port), "db1", "bh", dir)
      assert(seen.size == parts.length)
      seen.foreach { s =>
        assert(s.headers("columns") == mapping.stripPrefix(StreamLoad.FirstLinePrefix))
        assert(s.headers("skip_lines") == "1")
      }
      // the rows follow the mapping line: 40 generated rows in all
      assert(seen.map(_.body.split("\n").length - 1).sum == 40)
    }
  }
}
