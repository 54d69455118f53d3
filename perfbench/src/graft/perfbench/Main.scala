package graft.perfbench

import graft.{CurateCorpus, Images, SparkEntry, Tables, Tagging, Vocab}
import graft.ops.{Components, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The measuring process. One long-lived local[cores] session, one job at
  * a time, closed loop. Writes `result.json` (raw timings, per-layer
  * metrics of a traced run) and the outputs the checks in check.py read.
  *
  * Usage: Main <workload> <inputDir> <outDir> <seconds> <trace 0|1> <setups> <cores>
  */
object Main {

  /** One workload: a per-session set-up, one job as the user-facing main
    * runs it, the same job with its layers split into traced actions,
    * and the untimed output captures the checks read. */
  trait Workload {
    def itemsPerJob: Long
    def open(spark: SparkSession): Unit
    def job(spark: SparkSession, k: Int): Unit
    def traced(spark: SparkSession, k: Int, tr: Trace, rt: RuntimeStats): Unit
    def capture(spark: SparkSession): Unit = ()
    def afterJob(k: Int): Unit = ()
    /** After the traced jobs: per-run layer measurements, added `tr.jobs`
      * times so they read per job like the rest. */
    def finish(tr: Trace): Unit = ()
  }

  def main(argv: Array[String]): Unit = {
    val Array(name, input, out, seconds, trace, setups, cores) = argv
    val outDir = Paths.get(out)
    Files.createDirectories(outDir)
    val w: Workload = name match {
      case "tag_photos" | "tag_thumbs" => new TagWorkload(input, outDir)
      case "curate_docs" => new CurateWorkload(input, outDir)
      case "query_mix" => new QueryWorkload(input, outDir)
      case other => sys.error(s"unknown workload $other")
    }
    new Runner(w, outDir, seconds.toDouble, trace == "1", setups.toInt, cores.toInt).run()
  }

  final class Runner(w: Workload, out: Path, seconds: Double, traced: Boolean,
                     setups: Int, cores: Int) {
    private val rt = new RuntimeStats
    private var spark: SparkSession = _

    private def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.sparkContext.addSparkListener(rt)
      s.listenerManager.register(rt)
      s
    }

    def run(): Unit = {
      // set-up: session start + the untimed warm-up job, several times
      val setupS = (0 until setups).map { i =>
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        spark = session()
        w.open(spark)
        w.job(spark, -1 - i)
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(s"perfbench: setups $setupS")
      w.capture(spark)
      System.err.println("perfbench: captured")
      val timed = if (traced) tracedWindow() else timedWindow()
      System.err.println(s"perfbench: window ${timed("jobs")}")
      spark.stop()
      Files.write(out.resolve("result.json"), Json.value(
        timed ++ Map("setup_s" -> setupS, "cores" -> cores,
          "items_per_job" -> w.itemsPerJob)).getBytes("UTF-8"))
    }

    /** Closed loop of untraced jobs until `budget` seconds of job time. */
    private def loop(budget: Double, minJobs: Int, first: Int): Seq[(Double, Double, Double)] = {
      val jobs = Seq.newBuilder[(Double, Double, Double)]
      var spent = 0.0
      var k = first
      while (spent < budget || k - first < minJobs) {
        Host.resetPeakRss()
        val c0 = Host.procCpuNs()
        val t0 = System.nanoTime()
        w.job(spark, k)
        val wall = (System.nanoTime() - t0) / 1e9
        val cpuMs = (Host.procCpuNs() - c0) / 1e6
        val rssMb = procStatusKb("VmHWM") / 1024.0
        w.afterJob(k)
        jobs += ((wall, cpuMs, rssMb))
        spent += wall
        k += 1
      }
      jobs.result()
    }

    private def timedWindow(): Map[String, Any] = {
      val mark = Host.mark()
      val jobs = loop(seconds, 3, 0)
      Map("jobs" -> jobs.map(_._1), "cpu_ms" -> jobs.map(_._2), "rss_mb" -> jobs.map(_._3),
        "foreign_cpu_s" -> Host.foreignCpuSec(mark))
    }

    /** Two untraced reference jobs, then traced jobs for the rest of the
      * window; per-layer metrics are per traced job. */
    private def tracedWindow(): Map[String, Any] = {
      val mark = Host.mark()
      val plain = loop(0.0, 2, 0).map(_._1)
      val tr = new Trace
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      rt.reset()
      val t0 = System.nanoTime()
      var k = plain.length
      val walls = Seq.newBuilder[Double]
      while ((System.nanoTime() - t0) / 1e9 < seconds / 2 || tr.jobs < 1) {
        val j0 = System.nanoTime()
        tr.job(w.traced(spark, k, tr, rt))
        walls += (System.nanoTime() - j0) / 1e9
        w.afterJob(k)
        k += 1
      }
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      val n = tr.jobs.toDouble
      val jobMs = tr.jobMs
      val sparkM = Seq("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
        "output_bytes", "plan_ms", "exchanges").map(m => s"spark.$m" -> rt.get(m) / n) ++ Seq(
        "spark.core_busy_frac" -> rt.get("executor_run_ms") / (jobMs * cores),
        "spark.task_skew" -> rt.taskSkew)
      w.finish(tr)
      tr.spans.map(_.name).distinct.filter(_ != "job")
        .foreach(nm => tr.add(s"$nm.ms", tr.selfMs((s: String) => s == nm)))
      val share = (p: String => Boolean) => tr.selfMs(p) / jobMs
      val layers = tr.counters.map { case (m, v) => m -> v / n } ++ sparkM ++ Map(
        "trace.coverage" -> tr.selfMs((s: String) => s != "job") / jobMs,
        "trace.overhead_frac" -> (median(walls.result()) / median(plain) - 1.0),
        // the scoring span runs preprocess and the scorer per row
        "share.Images.preprocess" -> share(_ == "Images.scoreImages") *
          tr.counters.getOrElse("Images.preprocess.ms", 0.0) /
          math.max(1e-9, tr.counters.getOrElse("Images.preprocess.ms", 0.0) +
            tr.counters.getOrElse("Images.Scorer.ms", 0.0)),
        "share.Tagging" -> share(_ == "Tagging.pipeline"),
        "share.TextOps_Components" ->
          share(s => s.startsWith("TextOps.") || s.startsWith("Components.")),
        "share.query" -> share(_.startsWith("query.")),
        "host.foreign_cpu_s" -> Host.foreignCpuSec(mark))
      Files.write(out.resolve("spans.json"), tr.toJson.getBytes("UTF-8"))
      Map("jobs" -> plain, "cpu_ms" -> Seq.empty[Double], "traced_jobs" -> walls.result(),
        "layers" -> layers)
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def procStatusKb(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Process and host CPU clocks for the contention stamp: busy CPU of
    * the whole host over the window minus this process's own CPU. */
  object Host {
    def procCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    private def busyJiffies(): Long = {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).map(_.toLong)
      f.sum - f(3) - f(4)
    }
    def mark(): (Long, Long) = (busyJiffies(), procCpuNs())
    /** Resets VmHWM to the current RSS, so it reads as one job's peak. */
    def resetPeakRss(): Unit =
      try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
      catch { case _: java.io.IOException => () }
    def foreignCpuSec(m: (Long, Long)): Double =
      math.max(0.0, (busyJiffies() - m._1) / 100.0 - (procCpuNs() - m._2) / 1e9)
  }

  // ---------------------------------------------------------------- tags

  /** The TagDirectory call sequence over a generated image tree. */
  final class TagWorkload(input: String, out: Path) extends Workload {
    private var root = Paths.get(input, "images").toAbsolutePath
    private def dir = root.toString
    private val json = new String(Files.readAllBytes(Paths.get(input, "tag_mapping.json")), "UTF-8")
    private val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.toString.endsWith(".txt"))
      .map(p => root.relativize(p).toString).toSeq.sorted
    private var vocab: DataFrame = _
    private var scorer: BenchScorer = _
    private var vocabN = 0L
    def itemsPerJob: Long = files.length

    def open(spark: SparkSession): Unit = {
      vocab = Vocab.fromJson(spark, json)
      val v = vocab.agg(max(col("tag_idx")), count(lit(1))).head
      scorer = BenchScorer(v.getLong(0).toInt + 1)
      vocabN = v.getLong(1)
    }

    /** Each job tags the same tree under a new directory name: the
      * engine's read partitioning hashes the full path, so a run's
      * figures average over several partition layouts instead of riding
      * on one. */
    private def rename(k: Int): Unit =
      root = Files.move(root, root.resolveSibling(s"images_$k"))

    def job(spark: SparkSession, k: Int): Unit = {
      rename(k)
      val tagged = Images.tagImages(spark, dir, vocab, scorer, recursive = true)
      val (observed, metrics) = Images.withRunMetrics(tagged)
      Images.writeSidecars(observed.filter(col("status") === "ok"))
      Images.releaseScored(spark)
      require(metrics.get("n_total") == files.length.toLong, s"job $k saw ${metrics.get}")
      if (k < 0) clearSidecars()
    }

    private def rel(uri: String): String =
      root.relativize(Paths.get(new java.net.URI(uri).getPath)).toString

    /** Independent expectation: the same logits through pipelineLocal. */
    override def capture(spark: SparkSession): Unit = {
      val scored = Images.scoreImages(Images.source(spark, dir, recursive = true), scorer)
        .filter(col("status") === "ok").select(col("path").as("image_id"), col("logits"))
      val expected = Tagging.pipelineLocal(scored, Vocab.parseJson(json)).collect()
        .map(r => rel(r.getString(0)) -> r.getString(1)).toMap
      Files.write(out.resolve("expected_tags.json"), Json.value(expected).getBytes("UTF-8"))
    }

    /** Snapshot every image's side-car (null when absent), then remove
      * them so the next job writes from scratch. */
    override def afterJob(k: Int): Unit = {
      val snap = files.map { f =>
        val txt = sidecar(f)
        f -> (if (Files.exists(txt)) new String(Files.readAllBytes(txt), "UTF-8") else null)
      }.toMap
      Files.write(out.resolve(f"sidecars_$k%03d.json"), Json.value(snap).getBytes("UTF-8"))
      clearSidecars()
    }

    private def sidecar(f: String): Path = {
      val p = root.resolve(f)
      val n = p.getFileName.toString
      p.resolveSibling(n.substring(0, n.lastIndexOf('.')) + ".txt")
    }
    private def clearSidecars(): Unit = files.foreach(f => Files.deleteIfExists(sidecar(f)))

    def traced(spark: SparkSession, k: Int, tr: Trace, rt: RuntimeStats): Unit = {
      rename(k)
      val scan = tr.span("Images.source") {
        Images.source(spark, dir, recursive = true).localCheckpoint()
      }
      val s = scan.agg(count(lit(1)), sum(length(col("content")))).head
      tr.add("Images.source.files", s.getLong(0))
      tr.add("Images.source.bytes", s.getLong(1))
      val acc = RowTimers(spark)
      val scored = tr.span("Images.scoreImages") {
        RowTimers.score(scan, scorer, acc).localCheckpoint()
      }
      acc.report(tr)
      val ok = scored.filter(col("status") === "ok").select(col("path").as("image_id"), col("logits"))
      val nOk = ok.count()
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      val w0 = rt.get("shuffle_write_bytes")
      val tags = tr.span("Tagging.pipeline") {
        Tagging.pipeline(ok, vocab).localCheckpoint()
      }
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      tr.add("Tagging.pipeline.shuffle_bytes", rt.get("shuffle_write_bytes") - w0)
      tr.add("Tagging.pipeline.rows_in", nOk.toDouble * vocabN)
      val t = tags.agg(sum(size(split(col("tags"), ", "))), sum(length(col("tags")))).head
      tr.add("Tagging.pipeline.tags_out", t.getLong(0))
      val tagged = scored.select(col("path"), col("status"))
        .join(tags.withColumnRenamed("image_id", "path"), Seq("path"), "left")
      tr.span("Images.writeSidecars") {
        Images.writeSidecars(tagged.filter(col("status") === "ok"))
      }
      tr.add("Images.writeSidecars.files", nOk)
      tr.add("Images.writeSidecars.bytes", t.getLong(1))
    }

    override def finish(tr: Trace): Unit = {
      // the decode breakdown runs once, outside the job spans: it decodes
      // every image a second time
      val spark = SparkSession.active
      val acc = RowTimers(spark)
      RowTimers.breakdown(Images.source(spark, dir, recursive = true), acc)
      acc.report(tr, tr.jobs)
      val t0 = System.nanoTime()
      val n = Vocab.fromJson(spark, json).count()
      tr.add("Vocab.fromJson.ms", (System.nanoTime() - t0) / 1e6 * tr.jobs)
      tr.add("Vocab.entries", n * tr.jobs)
    }
  }

  // -------------------------------------------------------------- curate

  final class CurateWorkload(input: String, out: Path) extends Workload {
    private val corpus = Paths.get(input, "corpus.parquet").toAbsolutePath.toString
    private var n = 0L
    def itemsPerJob: Long = n
    private def target(k: Int) = out.resolve(f"curate/job_$k%03d").toAbsolutePath.toString

    def open(spark: SparkSession): Unit = n = spark.read.parquet(corpus).count()

    def job(spark: SparkSession, k: Int): Unit =
      CurateCorpus.curate(spark, spark.read.parquet(corpus), target(k),
        "doc_id", "text", 0.5, 0.8, 0L)

    /** `CurateCorpus.curate` step by step, each TextOps / Components call
      * pinned so its time is its own. */
    def traced(spark: SparkSession, k: Int, tr: Trace, rt: RuntimeStats): Unit =
      tr.span("CurateCorpus.curate") {
        val docs = spark.read.parquet(corpus)
          .select(col("doc_id").cast("long"), col("text").cast("string")).localCheckpoint()
        val stats = tr.span("TextOps.qualityStatsLocal") {
          TextOps.qualityStatsLocal(docs, "doc_id", "text", length(col("text")), stopwords)
            .localCheckpoint()
        }
        tr.add("TextOps.qualityStatsLocal.docs_out", stats.count())
        val quality = stats.select(col("doc_id"),
            (lit(0.4) * least(col("n_chars") / 500.0, lit(1.0))
              + lit(0.3) * (col("n_uniq") / col("n_tokens").cast("double"))
              + lit(0.3) * (lit(1.0) - col("n_stop") / col("n_tokens").cast("double")))
              .as("quality"))
          .filter(col("quality") >= 0.5).select("doc_id")
        val afterQuality = docs.join(quality, "doc_id").localCheckpoint()
        val exactKeepers = afterQuality.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        val afterExact = afterQuality.join(exactKeepers, "doc_id").localCheckpoint()
        val sig = tr.span("TextOps.minhashSignaturesLocal") {
          TextOps.minhashSignaturesLocal(afterExact, "doc_id", "text", 3, 16).localCheckpoint()
        }
        val cand = tr.span("TextOps.lshBands") {
          val bands0 = TextOps.lshBands(sig, "doc_id", 16, 4)
          val hot = bands0.groupBy("band", "band_key").agg(count(lit(1)).as("m"))
            .filter(col("m") > 4096).select("band", "band_key")
          val bands = bands0.join(hot, Seq("band", "band_key"), "left_anti")
          bands.as("a").join(bands.as("b"), col("a.band") === col("b.band") &&
              col("a.band_key") === col("b.band_key") && col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
            .distinct().localCheckpoint()
        }
        val nCand = cand.count()
        tr.add("TextOps.lshBands.candidate_pairs", nCand)
        val candDocs = cand.select(col("id1").as("doc_id"))
          .union(cand.select(col("id2"))).distinct()
        val arrs = tr.span("TextOps.shingleArraysLocal") {
          TextOps.shingleArraysLocal(afterExact.join(candDocs, "doc_id"), "doc_id", "text", 3)
            .localCheckpoint()
        }
        val dupPairs = tr.span("TextOps.scoredPairs") {
          TextOps.scoredPairs(cand, arrs, "doc_id", 0.8)
            .select(col("id1").as("src"), col("id2").as("dst")).localCheckpoint()
        }
        val nPairs = dupPairs.count()
        tr.add("TextOps.scoredPairs.verified_pairs", nPairs)
        tr.add("TextOps.verify_yield", if (nCand == 0) 0.0 else nPairs.toDouble / nCand)
        val comp = tr.span("Components.connectedComponents") {
          Components.connectedComponents(dupPairs).localCheckpoint()
        }
        tr.add("Components.connectedComponents.edges", nPairs)
        tr.add("Components.connectedComponents.components",
          comp.select("component").distinct().count())
        val drop = comp.filter(col("id") =!= col("component")).select(col("id").as("doc_id"))
        afterExact.join(drop, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(target(k))
      }

    override def finish(tr: Trace): Unit =
      tr.add("CurateCorpus.curate.self_ms", tr.selfMs((s: String) => s == "CurateCorpus.curate"))
  }

  private val stopwords = Seq("the", "a", "of", "and", "in", "to", "is")

  // -------------------------------------------------------------- queries

  /** One pass over a fixed query set, in a seed-permuted order. Every
    * pass is checked: each query's output is reduced to (rows, content
    * hash) and compared with the oracle-checked capture. */
  final class QueryWorkload(input: String, out: Path) extends Workload {
    private val sf = Paths.get(input, "tables").toAbsolutePath.toString
    private val names = Files.readAllLines(Paths.get(input, "queries.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    private val hashes = scala.collection.mutable.ArrayBuffer.empty[String]
    def itemsPerJob: Long = names.length
    def open(spark: SparkSession): Unit = ()

    /** The first warm-up pass writes each output for the DuckDB oracle
      * and records its hash as the reference of every later pass. */
    def job(spark: SparkSession, k: Int): Unit = if (k == -1) capturePass(spark) else
      names.foreach { n =>
        val (rows, h) = contentHash(SparkEntry.queries(n)(spark, sf))
        if (k >= 0) hashes += Json.obj("job" -> k, "name" -> n, "rows" -> rows, "hash" -> h)
      }

    private def capturePass(spark: SparkSession): Unit = {
      names.foreach { n =>
        val dst = out.resolve(s"queries/$n").toAbsolutePath.toString
        SparkEntry.queries(n)(spark, sf).write.mode("overwrite").parquet(dst)
        val (rows, h) = contentHash(spark.read.parquet(dst))
        hashes += Json.obj("job" -> -1, "name" -> n, "rows" -> rows, "hash" -> h)
      }
      val oracle = SparkEntry.oracleSql
      Files.write(out.resolve("queries/oracle_sql.json"), Json.value(
        names.flatMap(n => oracle.get(n).map(n -> _)).toMap).getBytes("UTF-8"))
    }

    override def afterJob(k: Int): Unit =
      Files.write(out.resolve("query_hashes.jsonl"),
        hashes.mkString("", "\n", "\n").getBytes("UTF-8"))

    def traced(spark: SparkSession, k: Int, tr: Trace, rt: RuntimeStats): Unit = {
      tr.span("Tables.load") { Tables.all.foreach(t => Tables.load(spark, sf, t).schema) }
      names.foreach { n =>
        val sc = spark.sparkContext
        org.apache.spark.perfbench.ListenerBus.drain(sc)
        rt.markPlans()
        val (rows, h) = tr.span(s"query.$n") { contentHash(SparkEntry.queries(n)(spark, sf)) }
        org.apache.spark.perfbench.ListenerBus.drain(sc)
        tr.add(s"query.$n.plan_ms", rt.planMsSinceMark)
        hashes += Json.obj("job" -> k, "name" -> n, "rows" -> rows, "hash" -> h)
      }
    }
  }

  /** (rows, order-insensitive content hash). Columns are taken in name
    * order; floating-point values are hashed at 10 significant digits
    * so a different summation order does not change the hash. */
  def contentHash(df: DataFrame): (Long, Long) = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = fields.map { case (f, i) =>
      val c = col(s"c$i")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", c)
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val r = named.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(2147483647L))), lit(0L)))
      .head
    (r.getLong(0), r.getLong(1))
  }
}
