package graftbench

import graft.SparkEntry
import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark's JVM side. It runs one workload (an ordered list of
  * `SparkEntry.queries` keys) in passes, and times each key from
  * outside as two calls: build, `SparkEntry.queries(k)(spark, dir)`,
  * and exec, `df.queryExecution.toRdd.count()`.
  *
  * After session start, `--warmup-passes` untimed passes let the JIT and
  * Spark's code generation warm up; the first of them writes every
  * key's output as parquet, which run.py compares with the key's
  * oracle. Timed passes follow until `--seconds` have gone, three at
  * least: a median, the work-count guard, and in trace mode untraced
  * passes on both sides of a traced one.
  *
  * Every pass reads its own directory of links to the corpus files and
  * gets its own `java.io.tmpdir`, where the store keys keep their
  * stores: the engine memoizes some work per input directory, and a
  * second pass over one directory, or over stores a pass before left
  * behind, would do different work. With `--trace 1` the timed passes
  * alternate between untraced and traced, so the run reports its own
  * tracing overhead.
  *
  * Writes one JSON object to `--out`; run.py turns it into metrics.
  */
object Harness {
  val SpanProperty = "graftbench.span"
  private val MinPasses = 3

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  final case class Sample(pass: Int, key: String, buildS: Double, execS: Double, rows: Long)
  final case class Failure(pass: Int, key: String, error: String, message: String)

  def main(argv: Array[String]): Unit = {
    val args     = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val keys     = args("keys").split(",").toSeq
    val corpus   = Paths.get(args("corpus")).toAbsolutePath
    val work     = Paths.get(args("work")).toAbsolutePath
    val seed     = args("seed").toLong
    val seconds  = args.getOrElse("seconds", "10").toDouble
    val trace    = args.getOrElse("trace", "0") == "1"
    val cores    = args.getOrElse("cores", "4").toInt
    val warmups  = args("warmup-passes").toInt
    val out      = Paths.get(args("out"))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    val sc      = spark.sparkContext
    val counter = new WorkCounter
    sc.addSparkListener(counter)
    spark.streams.addListener(counter.streams)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    // seeded pass-directory names; each holds links to the corpus files
    val passRng = new scala.util.Random(seed)
    def passDir(label: String): String = {
      val d = work.resolve("passes").resolve(f"$label-${passRng.nextInt(1 << 30)}%09d")
      Files.createDirectories(d.resolve("tmp"))
      System.setProperty("java.io.tmpdir", d.resolve("tmp").toString)
      Files.createDirectories(d.resolve("corpus"))
      val files = Files.list(corpus)
      try files.forEach(f => Files.createSymbolicLink(d.resolve("corpus").resolve(f.getFileName), f.toRealPath()))
      finally files.close()
      d.resolve("corpus").toString
    }

    val samples  = mutable.ArrayBuffer[Sample]()
    val failures = mutable.ArrayBuffer[Failure]()
    val heapMb   = mutable.ArrayBuffer[(Int, Double)]()

    // frees the previous key's blocks and garbage outside any timer, then
    // reads the live heap
    def housekeeping(pass: Int): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      val rt = Runtime.getRuntime
      heapMb += pass -> (rt.totalMemory - rt.freeMemory) / 1048576.0
    }

    /** Runs every key once over a fresh directory; returns key windows. */
    def runPass(pass: Int, label: String, tr: Option[PassTrace], sink: Option[Path]): Seq[KeyWindow] = {
      val dir = passDir(label)
      keys.map { key =>
        housekeeping(pass)
        val span = s"p$pass/$key"
        sc.setLocalProperty(SpanProperty, span)
        val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
        var t1 = t0; var w1 = w0
        try {
          val df: DataFrame = SparkEntry.queries(key)(spark, dir)
          t1 = System.nanoTime(); w1 = System.currentTimeMillis()
          sink match {
            case Some(root) =>
              df.coalesce(1).write.mode("overwrite").parquet(root.resolve(key).toString)
            case None =>
              val rows = df.queryExecution.toRdd.count()
              val t2 = System.nanoTime()
              samples += Sample(pass, key, (t1 - t0) / 1e9, (t2 - t1) / 1e9, rows)
              tr.foreach(_.recordPlan(df.queryExecution))
          }
        } catch {
          case NonFatal(e) =>
            failures += Failure(pass, key, e.getClass.getName, String.valueOf(e.getMessage).take(300))
        } finally sc.setLocalProperty(SpanProperty, null)
        KeyWindow(span, key, w0, w1, System.currentTimeMillis())
      }
    }

    val w0 = System.nanoTime()
    (0 until warmups).foreach(i =>
      runPass(0, s"warmup$i", None, if (i == 0) Some(work.resolve("outputs")) else None))
    samples.clear()
    val warmupS = (System.nanoTime() - w0) / 1e9

    val passes    = mutable.ArrayBuffer[Map[String, Any]]()
    val perLayer  = mutable.ArrayBuffer[Map[String, Double]]()
    val spanLines = mutable.ArrayBuffer[String]()
    val started   = System.nanoTime()
    var pass      = 0
    while (pass < MinPasses || (System.nanoTime() - started) / 1e9 < seconds) {
      pass += 1
      val traced = trace && pass % 2 == 0
      Bus.drain(sc)
      val (jobs0, batches0) = (counter.jobs, counter.batches)
      val tr = if (traced) Some(new PassTrace(pass, cores)) else None
      tr.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t); spark.streams.addListener(t.streams) }
      val windows = runPass(pass, f"pass$pass%02d", tr, None)
      Bus.drain(sc)
      tr.foreach { t => sc.removeSparkListener(t); spark.listenerManager.unregister(t); spark.streams.removeListener(t.streams) }
      val mine = samples.filter(_.pass == pass)
      val wall = mine.map(s => s.buildS + s.execS).sum
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> wall,
        "jobs" -> (counter.jobs - jobs0), "batches" -> (counter.batches - batches0))
      tr.foreach { t =>
        perLayer += t.metrics(windows, mine.map(_.buildS).sum, mine.map(_.execS).sum)
        spanLines ++= t.spans(windows)
      }
    }

    val kernels = if (trace) Kernels.measure(spark, corpus.toString) else Map.empty[String, Double]
    if (spanLines.nonEmpty)
      Files.write(work.resolve("spans.jsonl"), (spanLines.mkString("\n") + "\n").getBytes("UTF-8"))
    val oracle = keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap

    val layer = if (perLayer.isEmpty) Map.empty[String, Double]
      else perLayer.head.keys.map(k => k -> quantile(perLayer.map(_(k)).toSeq, 0.5)).toMap
    val json = Json.obj(
      "cores"           -> cores,
      "session_s"       -> sessionS,
      "warmup_s"        -> warmupS,
      "warmup_passes"   -> warmups,
      "samples"         -> samples.map(s => Map("pass" -> s.pass, "key" -> s.key, "build_s" -> s.buildS,
                              "exec_s" -> s.execS, "rows" -> s.rows)),
      "failures"        -> failures.map(f => Map("pass" -> f.pass, "key" -> f.key, "error" -> f.error, "message" -> f.message)),
      "passes"          -> passes,
      "heap_mb"         -> heapMb.groupBy(_._1).map { case (p, hs) => p.toString -> hs.map(_._2).max },
      "per_layer"       -> (layer ++ kernels),
      "spans"           -> (if (spanLines.nonEmpty) work.resolve("spans.jsonl").toString else null),
      "oracle_sql"      -> oracle,
    )
    spark.stop()
    Files.write(out, json.getBytes("UTF-8"))
  }
}
