package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SparkEntry, Tables}
import graft.operators.{Backtest, BacktestConfig, LagGrid, SignalConfig, Signals}

/** One benchmark process: runs one workload of a plan that `run.py`
  * wrote, and writes the raw samples back as JSON.
  *
  * The program is driven only through its public calls. Each iteration
  * starts from `newSession()` after an untimed `catalog.clearCache()`,
  * so session-keyed shares (MaterializedTable, Dumps.writeOnce, the
  * Backtest input dump) and CacheManager entries are rebuilt by the
  * iteration that uses them.
  *
  * Usage: Main <plan.json> <out.json>
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A checked result of one call: the key it is checked under (a
    * catalog name or a what-if key of `expected.json`), its row count and
    * order-insensitive digest, and where its rows were dumped for the
    * DuckDB compare (first result of a key to verify only). */
  final case class Check(key: String, rows: Long, digest: String, dump: String)

  final case class CallRec(name: String, iter: Int, pass: String, start: Long,
      built: Long, end: Long, ok: Boolean, error: String, checks: Seq[Check])

  final case class IterRec(iter: Int, pass: String, start: Long, end: Long,
      persistedRdds: Int, storageBytes: Long, liveHeapMb: Double)

  final class Run(plan: Map[String, Any]) {
    val workload: String = plan("workload").toString
    val data: String = plan("data").toString
    val tmp: String = plan("tmp").toString
    val cpus: Int = num(plan("cpus")).toInt
    val seconds: Double = num(plan("seconds"))
    val traced: Boolean = plan("trace") == true
    val queries: Seq[String] = strs(plan.getOrElse("queries", Nil))
    val whatif: Seq[Map[String, Any]] =
      plan.getOrElse("whatif", Nil).asInstanceOf[Seq[Map[String, Any]]]
    val movesPerIter: Int = num(plan.getOrElse("moves_per_iter", 0)).toInt
    val oracles: Map[String, String] = SparkEntry.oracleSql
    val verify: Set[String] = strs(plan.getOrElse("verify", Nil)).toSet
    val catalog: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

    val calls = mutable.ArrayBuffer.empty[CallRec]
    val iters = mutable.ArrayBuffer.empty[IterRec]
    val dumped = mutable.Set.empty[String]
    var spark: SparkSession = _

    def num(x: Any): Double = x match {
      case n: java.lang.Number => n.doubleValue
      case s => s.toString.toDouble
    }
    def strs(x: Any): Seq[String] = x.asInstanceOf[Seq[Any]].map(_.toString)
    def now: Long = System.currentTimeMillis()

    def boot(master: String): Unit = {
      val b = SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$tmp/spark-local")
        .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
        .config("spark.sql.streaming.streamingQueryListeners",
          classOf[Layers.Streams].getName)
        .withExtensions(new graft.GraftExtensions)
      if (traced) b.config("spark.sql.queryExecutionListeners",
        classOf[Layers.Plans].getName)
      spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      if (traced) spark.sparkContext.addSparkListener(new Layers.Jobs)
    }

    def shutdown(): Unit = {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    /** Time one call: construction (eager jobs included), then collect. */
    def call(iter: Int, pass: String, name: String)(
        body: => DataFrame)(keys: Array[Row] => Seq[(String, Array[Row])]): Unit = {
      val t0 = now
      var built = t0
      val out: Either[Throwable, (DataFrame, Array[Row])] =
        try {
          val df = body
          built = now
          Right((df, df.collect()))
        } catch { case e: Throwable => Left(e) }
      val t1 = now
      val rec = out match {
        case Right((df, rows)) =>
          val checks = keys(rows).map { case (k, rs) =>
            Check(k, rs.length, Digest.of(rs), dumpFor(k, df, rs)) }
          CallRec(name, iter, pass, t0, built, t1, ok = true, "", checks)
        case Left(e) =>
          val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator
            .take(3).mkString(" ")
          System.err.println(s"[perfbench] $name failed: $msg")
          CallRec(name, iter, pass, t0, built, t1, ok = false,
            e.getClass.getName + ": " + msg, Nil)
      }
      calls += rec
    }

    /** Heap in use after a full collection: what the program keeps
      * reachable (cached tables, dumps, Spark's own state), without the
      * garbage the collector happened not to have reclaimed yet. Spark's
      * ContextCleaner drops broadcast and shuffle blocks only after a
      * collection has freed their handles, on its own thread, so
      * collections repeat until the reading has stopped falling twice in
      * a row. */
    def liveHeapMb(): Double = {
      def collect(): Double = {
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }
      var next = collect()
      var steady = 0
      var rounds = 0
      while (steady < 2 && rounds < 20) {
        Thread.sleep(50)
        val last = next
        next = collect()
        steady = if (last - next > 1.0) 0 else steady + 1
        rounds += 1
      }
      next
    }

    /** Rows of a key to verify against its DuckDB oracle are dumped once
      * per run, untimed. */
    def dumpFor(key: String, df: DataFrame, rows: Array[Row]): String =
      if (!verify.contains(key) || dumped.contains(key)) ""
      else {
        dumped += key
        val p = s"$tmp/check/$key"
        spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(p)
        p
      }

    def query(iter: Int, pass: String, s: SparkSession, name: String): Unit =
      call(iter, pass, name)(catalog(name)(s, data))(rows => Seq(name -> rows))

    val chain: Seq[String] = strs(plan.getOrElse("chain", Nil))
    val curation: Seq[String] = strs(plan.getOrElse("curation", Nil))

    def step(iter: Int, pass: String, s: SparkSession, name: String): Unit =
      if (name == "lag_grid_build")
        call(iter, pass, name)(LagGrid.grid(s, data))(rows => Seq(name -> rows))
      else query(iter, pass, s, name)

    /** One dashboard slider move: signals and backtest re-run under
      * configs drawn by `run.py` from the seed. */
    def move(iter: Int, pass: String, s: SparkSession, m: Map[String, Any]): Unit = {
      val sig = SignalConfig(num(m("tau")), num(m("min_news")).toInt)
      val bt = BacktestConfig.Default.copy(holdDays = num(m("hold_days")).toInt,
        stopLoss = num(m("stop_loss")), takeProfit = num(m("take_profit")))
      var signals: Array[Row] = Array.empty
      call(iter, pass, "whatif") {
        signals = Signals.pipeline(s, data, sig).collect()
        Backtest.fullMetricsOf(Backtest.run(s, data, bt), bt.initialCash)
      } { metrics => Seq(m("signals_key").toString -> signals,
                         m("metrics_key").toString -> metrics) }
    }

    /** What the calls so far left cached: persisted RDDs and their bytes. */
    def leftovers(): (Int, Long) = {
      val sc = spark.sparkContext
      (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    }

    /** One pass of the workload. Resets are untimed; before each one
      * but the first, and at the end, the pass's leftovers are recorded. */
    def iteration(iter: Int, pass: String): Unit = {
      val t0 = now
      var leak = (0, 0L)
      var resets = 0
      def note(): Unit = { val (r, b) = leftovers(); leak = (leak._1 max r, leak._2 max b) }
      def reset(): SparkSession = {
        if (resets > 0) note()
        resets += 1
        spark.catalog.clearCache()
        spark.newSession()
      }
      workload match {
        case "news_backtest" =>
          val s = reset()
          chain.foreach(step(iter, pass, s, _))
          (0 until movesPerIter).foreach { i =>
            move(iter, pass, s, whatif((iter * movesPerIter + i) % whatif.size)) }
        case "analyst_queries" =>
          queries.foreach(q => query(iter, pass, reset(), q))
        case "curation_graph" =>
          val s = reset(); curation.foreach(query(iter, pass, s, _))
        case "record" =>
          queries.foreach(q => step(iter, pass, reset(), q))
          whatif.foreach(m => move(iter, pass, reset(), m))
      }
      val t1 = now
      note()
      // untimed, and in timed passes only: a reading costs about 0.5 s
      val heap = if (pass == "timed") liveHeapMb() else -1.0
      iters += IterRec(iter, pass, t0, t1, leak._1, leak._2, heap)
    }

    /** Program set-up, timed several times: a fresh session with every
      * catalog table resolved and one small aggregate run. */
    def setupOnce(): Double = {
      val t0 = System.nanoTime()
      spark.catalog.clearCache()
      val s = spark.newSession()
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach(Tables.table(s, data, _).schema)
      Tables.events(s, data).groupBy("event_type").count().collect()
      (System.nanoTime() - t0) / 1e9
    }

    /** µs per document of the VADER kernel, called directly. */
    def vaderUsPerDoc(): Double = {
      val texts = Tables.documents(spark, data).select("text").collect()
        .map(_.getString(0))
      def pass(): Double = {
        val t0 = System.nanoTime()
        var acc = 0.0
        texts.foreach(t => acc += graft.functions.Vader.compound(t))
        if (acc.isNaN) sys.error("VADER returned NaN")
        (System.nanoTime() - t0) / 1e3 / texts.length
      }
      pass()
      median((1 to 5).map(_ => pass()))
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

    def peakRssMb(): Double =
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        .getOrElse(0.0)

    def go(out: String): Unit = {
      val tBoot = System.nanoTime()
      boot(s"local[$cpus]")
      val bootS = (System.nanoTime() - tBoot) / 1e9
      // Streaming rigs copy JSON files staged from the events table;
      // staging is scaffolding, done untimed.
      if ((chain ++ queries).exists(graft.streaming.EventStream.queries.contains))
        graft.streaming.EventStream.stageRig(spark, data)
      val setup =
        if (traced || workload == "record") Nil else (1 to 3).map(_ => setupOnce())
      val result = mutable.LinkedHashMap[String, Any](
        "workload" -> workload, "boot_s" -> bootS, "setup_s" -> setup)
      var iter = 0
      if (workload == "record") iteration(iter, "timed")
      else if (!traced) {
        // A discarded warm-up pass: the first pass in a JVM is mostly
        // class loading, JIT and expression codegen, whose cost follows
        // the host's load more than the program. Data caches are still
        // cleared before every timed pass.
        iteration(iter, "warmup")
        iter += 1
        // Closed loop, one client: passes back to back while the next
        // one is predicted (by the last) to end within `seconds`.
        val t0 = now
        var last = 0L
        var timed = 0
        while (timed == 0 || now - t0 + last <= seconds * 1000) {
          val s0 = now; iteration(iter, "timed"); last = now - s0; iter += 1; timed += 1
        }
      } else {
        // A discarded warm-up pass, then a traced pass between two
        // untraced ones, so the JIT's drift over passes cancels out of
        // the trace overhead; counters cover the traced pass.
        Seq("warmup", "untraced", "traced", "untraced").foreach { pass =>
          Layers.traced = pass == "traced"
          Layers.drain()
          val before = Layers.snapshot()
          iteration(iter, pass)
          Layers.drain()
          if (Layers.traced) {
            val after = Layers.snapshot()
            result("layers") = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
          }
          Layers.traced = false
          iter += 1
        }
        result("jobs") = Layers.jobsSnapshot().map(j => Seq(j._1, j._2))
        result("timeline") = Layers.timelineSnapshot().map(t => Seq(t._1, t._2, t._3))
        result("vader_us_per_doc") = vaderUsPerDoc()
        // single-thread baseline of the same iteration
        shutdown()
        boot("local[1]")
        iteration(iter, "local1")
      }
      Layers.drain()
      result("microbatches") = Layers.microbatchSnapshot().map(b => Seq(b._1, b._2))
      result("calls") = calls.map(c => Map("name" -> c.name, "iter" -> c.iter,
        "pass" -> c.pass, "start" -> c.start, "built" -> c.built, "end" -> c.end,
        "ok" -> c.ok, "error" -> c.error, "checks" -> c.checks.map(k => Map(
          "key" -> k.key, "rows" -> k.rows, "digest" -> k.digest, "dump" -> k.dump))))
      result("iterations") = iters.map(i => Map("iter" -> i.iter, "pass" -> i.pass,
        "start" -> i.start, "end" -> i.end, "persisted_rdds" -> i.persistedRdds,
        "live_heap_mb" -> i.liveHeapMb,
        "storage_bytes" -> i.storageBytes))
      result("oracles") = dumped.toSeq.map(k => k -> oracles(k)
        .replace(graft.operators.Dumps.SfTag, graft.operators.Dumps.tag(data))).toMap
      result("peak_rss_mb") = peakRssMb()
      Files.writeString(Paths.get(out), json.writeValueAsString(result))
      shutdown()
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 1 && args(0) == "--catalog") {
      val oracles = SparkEntry.oracleSql
      val rigs = graft.streaming.EventStream.queries
      println(json.writeValueAsString(SparkEntry.queries.keys.toSeq.sorted.map(n =>
        Map("name" -> n, "oracle" -> oracles.contains(n), "stream_rig" -> rigs.contains(n)))))
      return
    }
    val plan = json.readValue(new File(args(0)), classOf[Map[String, Any]])
    new Run(plan).go(args(1))
  }
}
