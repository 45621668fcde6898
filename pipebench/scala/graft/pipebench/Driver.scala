package graft.pipebench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.Pipeline
import graft.core.{EngineSession, SinkSpec, SourceSpec}
import graft.gold.Gold
import graft.meta.JobLedger

/** The benchmark's JVM side: one fresh session at `local[cpus]`, one
  * workload's public calls in a closed loop (a cold call, then a fixed
  * number of further calls), a consumer read after each call, and a JSON
  * result file with every timing and every output the oracle checks.
  *
  *   Driver --workload W --inputs DIR --work DIR --result FILE --cpus N
  *          --warmup W --calls N --trace 0|1
  *
  * Call 0 is the cold call, calls 1..W warm up, and steady calls follow
  * up to N calls in all.
  */
object Driver {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def parse(args: Array[String]): Args = {
    val m = mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        m(k) = args(i + 1); i += 2
      } else { m(k) = ""; i += 1 }
    }
    Args(m.toMap)
  }

  /** Session set-up as a one-shot CLI invocation pays it: builder to the
    * first completed trivial action. Scratch space stays under `work`. */
  def setup(a: Args, traced: Boolean): (SparkSession, Double) = {
    val cpus = a.int("cpus")
    val work = new File(a("work")).getAbsolutePath
    val t0 = System.nanoTime()
    val builder = EngineSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) builder.withExtensions(_.injectCheckRule(session =>
      _ => Recorder.unpinStreamCallSite(session.sparkContext)))
    val spark = builder.getOrCreate()
    spark.range(1).count()
    val s = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    EngineSession.quietLocalCheckpointWarnings()
    (spark, s)
  }

  /** Bytes and visible data files under a directory. */
  def du(dir: String): (Long, Long) = {
    val root = new File(dir)
    if (!root.exists()) return (0L, 0L)
    var bytes = 0L
    var files = 0L
    val stack = mutable.Stack(root)
    while (stack.nonEmpty) {
      val f = stack.pop()
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(stack.push))
      else {
        bytes += f.length()
        val n = f.getName
        if (!n.startsWith(".") && !n.startsWith("_")) files += 1
      }
    }
    (bytes, files)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  def num(r: Row, name: String): Double =
    r.getAs[Any](name).asInstanceOf[Number].doubleValue()

  def str(s: String): JValue = if (s == null) JNull else JString(s)
  def obj(kv: (String, JValue)*): JValue = JObject(kv.toList)
  def arr(xs: Iterable[JValue]): JValue = JArray(xs.toList)
  def jnum(n: Long): JValue = JLong(n)
  def jnum(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  /** One workload: `call(i)` is the timed public call; `read(i)` the
    * timed consumer read after it; `after(i)` untimed bookkeeping. */
  trait Workload {
    def readLayer: String
    def prepare(): Unit = ()
    def call(i: Int): (Boolean, JValue)
    def read(i: Int): JValue
    def after(i: Int): JValue = obj()
    def finish(): JValue = obj()
  }

  final class EtlDrops(spark: SparkSession, inputs: String, out: String) extends Workload {
    private val batches = new File(inputs).listFiles().filter(_.getName.startsWith("batch-"))
      .map(_.getAbsolutePath).sorted
    private lazy val ledger = new JobLedger(spark, s"$out/_ledger")
    def readLayer = "gold"
    def call(i: Int): (Boolean, JValue) = {
      val o = Pipeline.run(spark, SourceSpec.Batch(batches(i)), SinkSpec(out),
        ledger = Some(ledger))
      (o.status == "success", obj(
        "status" -> str(o.status),
        "rows_loaded" -> jnum(o.load.map(_.rowsLoaded).getOrElse(-1L)),
        "input_rows" -> jnum(o.stats.map(_.inputRows).getOrElse(-1L)),
        "output_rows" -> jnum(o.stats.map(_.outputRows).getOrElse(-1L)),
        "error" -> str(o.error.orNull)))
    }
    def read(i: Int): JValue = {
      val silver = spark.read.parquet(s"$out/processed")
      val summary = Gold.dailySummary(silver).collect()
      val revenue = Gold.dailyRevenue(silver).collect()
      def day(r: Row) = f"${r.getAs[Int]("_year")}%04d-${r.getAs[Int]("_month")}%02d-" +
        f"${r.getAs[Int]("_day")}%02d"
      val qty = summary.map(r => day(r) -> num(r, "total_quantity")).toMap
      arr(revenue.map(r => arr(Seq(str(day(r)),
        jnum(num(r, "order_count")), jnum(qty.getOrElse(day(r), -1.0)),
        jnum(num(r, "total_revenue"))))))
    }
    override def after(i: Int): JValue = {
      val (_, dataFiles) = du(s"$out/processed")
      val (_, ledgerFiles) = du(s"$out/_ledger")
      obj("output_files" -> jnum(dataFiles), "ledger_files" -> jnum(ledgerFiles))
    }
    override def finish(): JValue = obj("stored_bytes" -> jnum(du(out)._1))
  }

  final class CrawlDrains(spark: SparkSession, inputs: String, out: String, work: String)
      extends Workload {
    private val stage = new File(s"$inputs/stage").listFiles().map(_.getName).sorted
    private val in = s"$work/crawl-in"
    private val robots = s"$work/robots-seed"
    private lazy val crawlArgs = Pipeline.parseCrawlArgs(Seq("--robots", robots,
      "--blocked-domains", "tracker.net", "--change-aware"))
    def readLayer = "serve"
    override def prepare(): Unit = {
      new File(in).mkdirs()
      spark.read.json(s"$inputs/robots.jsonl").write.parquet(robots)
    }
    def call(i: Int): (Boolean, JValue) = {
      Files.move(Paths.get(inputs, "stage", stage(i)), Paths.get(in, stage(i)),
        StandardCopyOption.ATOMIC_MOVE)
      val o = Pipeline.crawl(spark, in, out, args = crawlArgs)
      (o.status == "success" && o.drains == 1L, obj(
        "status" -> str(o.status), "drains" -> jnum(o.drains),
        "docs" -> jnum(o.docsIngested),
        "state_version" -> jnum(o.stateVersion.map(_.toLong).getOrElse(-1L)),
        "error" -> str(o.error.orNull)))
    }
    def read(i: Int): JValue = obj(
      "docs" -> jnum(spark.read.parquet(s"$out/docs").count()),
      "frontier" -> jnum(spark.read.parquet(s"$out/frontier").count()))
    override def after(i: Int): JValue = {
      val (bytes, files) = du(s"$out/state")
      obj("state_bytes" -> jnum(bytes), "state_files" -> jnum(files))
    }
    override def finish(): JValue = {
      val cols = Seq("batch_id", "n_batch", "n_after_domain", "n_after_robots",
        "n_after_url", "n_new_url", "n_survivors", "n_frontier")
      val drains = spark.read.parquet(s"$out/drains").select(cols.map(col): _*)
        .orderBy("batch_id").collect()
      val frontier = spark.read.parquet(s"$out/frontier").select("target")
        .collect().map(_.getString(0)).sorted
      obj(
        "stored_bytes" -> jnum(du(out)._1),
        "drains" -> arr(drains.map(r =>
          obj(cols.map(c => c -> jnum(num(r, c).toLong)): _*))),
        "frontier" -> arr(frontier.map(str)))
    }
  }

  final class CurateCorpus(spark: SparkSession, inputs: String, work: String)
      extends Workload {
    private def outDir(i: Int) = s"$work/curate-$i"
    def readLayer = "serve"
    def call(i: Int): (Boolean, JValue) = {
      val o = Pipeline.curate(spark, inputs, outDir(i))
      val r = o.report
      def f(g: graft.text.Curation.Report => Long) = jnum(r.map(g).getOrElse(-1L))
      (o.status == "success", obj(
        "status" -> str(o.status),
        "input_docs" -> f(_.input_docs), "after_quality" -> f(_.after_quality),
        "after_exact_dedup" -> f(_.after_exact_dedup),
        "after_neardup" -> f(_.after_neardup), "after_sample" -> f(_.after_sample),
        "chunks" -> f(_.chunks), "error" -> str(o.error.orNull)))
    }
    def read(i: Int): JValue = {
      val r = spark.read.parquet(s"${outDir(i)}/chunks")
        .agg(count(lit(1)).as("n"), sum("n_tokens").as("tokens")).collect()(0)
      obj("chunks" -> jnum(r.getLong(0)),
        "tokens" -> jnum(if (r.isNullAt(1)) 0L else r.getLong(1)))
    }
    override def after(i: Int): JValue = {
      val stored = du(outDir(i))._1
      val (_, files) = du(s"${outDir(i)}/chunks")
      val (_, ledgerFiles) = du(s"${outDir(i)}/_ledger")
      if (i > 0) deleteTree(new File(outDir(i - 1)))
      obj("stored_bytes" -> jnum(stored), "output_files" -> jnum(files),
        "ledger_files" -> jnum(ledgerFiles))
    }
  }

  /** Unpersist cached blocks and unload state-store providers, the way
    * `graft.Bench` cleans up between queries. */
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    try {
      val cls = Class.forName("org.apache.spark.sql.execution.streaming.state.StateStore$")
      cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null)): Unit
    } catch { case e: Exception => System.err.println(s"state-store unload failed: $e") }
  }

  def heapUsedMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val traced = a("trace") == "1"
    val (spark, setupS) = setup(a, traced)
    val work = new File(a("work")).getAbsolutePath
    val out = s"$work/out"
    val inputs = new File(a("inputs")).getAbsolutePath
    val recorder = new Recorder
    if (traced) spark.sparkContext.addSparkListener(recorder)
    def drain(): Unit = org.apache.spark.PipebenchBridge.drainListenerBus(spark.sparkContext)

    val w: Workload = a("workload") match {
      case "etl_drops" => new EtlDrops(spark, inputs, out)
      case "crawl_drains" => new CrawlDrains(spark, inputs, out, work)
      case "curate_corpus" => new CurateCorpus(spark, inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.prepare()

    val spans = mutable.ArrayBuffer.empty[JValue]
    def span[T](name: String, layer: String, i: Int, on: Boolean)(body: => T): (T, Double) = {
      val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val r = body
      val s = (System.nanoTime() - t0) / 1e9
      spans += obj("name" -> str(name), "layer" -> str(layer),
        "call" -> jnum(i.toLong), "start_ms" -> jnum(ms0),
        "end_ms" -> jnum(System.currentTimeMillis()), "traced" -> JBool(on))
      (r, s)
    }

    val calls = mutable.ArrayBuffer.empty[JValue]
    val warmup = a.int("warmup")
    for (i <- 0 until a.int("calls")) {
      // a traced run traces steady calls in the order traced, untraced,
      // untraced, traced, ..., so the same run measures the recorder's
      // overhead without favouring either side while calls still settle
      val on = traced && i > warmup && Set(0, 3)((i - warmup - 1) % 4)
      // a traced run counts every call's jobs, traced or not, for the
      // growth of jobs per call across the run
      def jobsSoFar(): Long = if (traced) { drain(); recorder.jobsStarted.get } else 0L
      val jobs0 = jobsSoFar()
      if (on) recorder.enabled = true
      val ((ok, detail), wall) =
        try span("call", "pipeline", i, on)(w.call(i))
        catch { case e: Exception =>
          e.printStackTrace()
          ((false, obj("status" -> str("threw"),
            "error" -> str(e.toString))), 0.0)
        }
      val callJobs = jobsSoFar() - jobs0
      // the read is short, so one sample is mostly scheduling and JIT
      // jitter: after the first steady call, whose read is the one timed,
      // repeat it and keep the median. Only the first read of a call is
      // traced, so per-layer values cover one read per call.
      val reads =
        try (0 until (if (i == warmup + 1) 3 else 1)).map(k =>
          span("read", w.readLayer, i, on && k == 0)(w.read(i)))
        catch { case e: Exception =>
          e.printStackTrace()
          Seq((obj("error" -> str(e.toString)), 0.0))
        }
      val readOut = reads.last._1
      val readS = reads.map(_._2).sorted.apply(reads.length / 2)
      if (on) { drain(); recorder.enabled = false }
      calls += obj("index" -> jnum(i.toLong), "ok" -> JBool(ok),
        "wall_s" -> jnum(wall), "read_s" -> jnum(readS),
        "traced" -> JBool(on), "jobs" -> jnum(callJobs),
        "detail" -> detail, "read" -> readOut, "after" -> w.after(i))
    }
    val finish = w.finish()
    val heap = heapUsedMb()
    cleanup(spark)
    val result = obj(
      "setup_s" -> jnum(setupS),
      "spark_version" -> str(spark.version),
      "java_version" -> str(System.getProperty("java.version")),
      "heap_max_mb" -> jnum(Runtime.getRuntime.maxMemory / 1048576.0),
      "retained_heap_mb" -> jnum(heap),
      "calls" -> arr(calls),
      "spans" -> arr(spans),
      "finish" -> finish,
      "trace" -> (if (traced) recorder.toJson else obj()))
    Files.write(Paths.get(a("result")), compact(render(result)).getBytes("UTF-8"))
    spark.stop()
  }
}
