package perfbench

import graft.api.{Cli, WorkspaceStore}
import graft.core.Schemas
import graft.ingest.{DispatchParser, Ingest}
import graft.query.QueryCache
import org.apache.spark.sql.{Row, SparkSession}

/** The traced server: runs `graft.api.Cli <stateDir> server start --port 0`
  * on a background thread, so requests take exactly the server's code path,
  * and answers commands on stdin, one per line, with one line on stdout:
  *
  *   - `listener on|off`: start or stop recording jobs ([[JobListener]]);
  *   - `spans <tree> <ws> <find> <rel> <target> <depth> <dir> <target> <depth>`:
  *     time the public calls behind a request in-process, between requests;
  *   - `jobs`: the listener's job records.
  *
  * The server stops on a line-protocol `stop`; the probe exits at stdin EOF.
  */
object Probe {

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val stateDir = args(0)
    val server = new Thread(() =>
      Cli.main(Array(stateDir, "server", "start", "--port", "0")), "cli-main")
    server.start()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in, "UTF-8"))
    var line = in.readLine()
    while (line != null) {
      val toks = line.trim.split("\\s+").toSeq
      val reply = toks.headOption match {
        case Some("listener") =>
          JobListener.enabled = toks(1) == "on"
          """{"ok":true}"""
        case Some("spans") => spans(session(), stateDir, toks.tail)
        case Some("jobs") =>
          Thread.sleep(500) // let the listener bus deliver the last job ends
          Option(JobListener.instance).map(_.dumpJson).getOrElse("[]")
        case _ => """{"ok":false}"""
      }
      println(reply)
      line = in.readLine()
    }
    server.join()
  }

  private def session(): SparkSession =
    SparkSession.getDefaultSession.getOrElse(sys.error("no server session"))

  /** JSON with the in-process timings; span windows are epoch ms so the
    * caller can attribute the listener's jobs to them.
    */
  private def spans(spark: SparkSession, stateDir: String, a: Seq[String]): String = {
    val Seq(tree, ws, findName, rel, showTarget, showDepth,
      traceDir, traceTarget, traceDepth) = a
    val reps = 3
    val out = new StringBuilder("{")
    def put(k: String, v: Any): Unit = out ++= s""""$k":$v,"""

    val requests = Seq(
      Seq("find", "--type", "function", "--name", findName),
      Seq("show", "--relation", rel, "--target", showTarget, "--max-depth", showDepth),
      Seq("trace", "--direction", traceDir, "--target", traceTarget, "--max-depth", traceDepth),
      Seq("status"), Seq("sync", "--name", ws))
    val parseMs = (1 to 200).map { _ =>
      val t0 = System.nanoTime(); requests.foreach(r => Cli.parse(r)); ms(t0) / requests.size
    }
    put("parse_ms", median(parseMs))

    put("store_load_ms", median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val (b, e) = WorkspaceStore.currentGraph(spark, stateDir)
      b.queryExecution.analyzed; e.queryExecution.analyzed
      ms(t0)
    }))

    // plan = Cli.execute + physical planning; exec = collect. For show and
    // trace the BFS runs one job per level inside Cli.execute, so their
    // level jobs land in plan_ms.
    def query(key: String, cmd: Cli.Command): Array[Row] = {
      var rows = Array.empty[Row]
      val plan = Seq.newBuilder[Double]; val exec = Seq.newBuilder[Double]
      var window = (0L, 0L)
      for (_ <- 1 to reps) {
        val w0 = System.currentTimeMillis()
        val (b, e) = WorkspaceStore.currentGraph(spark, stateDir)
        val t0 = System.nanoTime()
        val df = Cli.execute(b, e, cmd)
        df.queryExecution.executedPlan
        plan += ms(t0)
        val t1 = System.nanoTime()
        rows = df.collect()
        exec += ms(t1)
        window = (w0, System.currentTimeMillis())
      }
      out ++= s""""$key":{"plan_ms":${median(plan.result())},""" +
        s""""exec_ms":${median(exec.result())},"rows":${rows.length},""" +
        s""""window":[${window._1},${window._2}]},"""
      rows
    }
    Cli.parse(requests(0)).foreach(c => query("find", c))
    Cli.parse(requests(2)).foreach(c => query("trace", c))
    Cli.parse(requests(1)).foreach { c =>
      val rows = query("show", c)
      val (b, e) = WorkspaceStore.currentGraph(spark, stateDir)
      val local = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), Cli.execute(b, e, c).schema)
      put("render_ms", median((1 to reps).map { _ =>
        val t0 = System.nanoTime(); Cli.render(local, "json"); ms(t0)
      }))
    }

    val t0 = System.nanoTime()
    Ingest.parseFiles(Ingest.readDirectory(spark, tree), DispatchParser).count()
    put("ingest_parse_s", ms(t0) / 1000)

    val st = WorkspaceStore.load(spark, stateDir)
    put("versions_per_live_block",
      st.blocks.count().toDouble / Schemas.currentView(st.blocks).count())

    val cache = QueryCache.forSession(spark)
    val (hits, misses, _) = cache.stats
    out ++= s""""cache":[$hits,$misses,${cache.invalidations}]}"""
    out.result()
  }
}
