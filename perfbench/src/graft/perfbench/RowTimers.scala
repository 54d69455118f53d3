package graft.perfbench

import graft.Images
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** The benchmark's scorer: O(V) and cheap by design (the model is
  * external to the engine), but its logits derive from 64 band means of
  * the tensor, so a wrong decode, pad or resize changes the tags. */
final case class BenchScorer(nTags: Int) extends Images.Scorer {
  @transient private lazy val params: (Array[Int], Array[Int], Array[Float], Array[Float], Array[Float]) = {
    val r = new java.util.SplittableRandom(12345L)
    (Array.fill(nTags)(r.nextInt(64)), Array.fill(nTags)(r.nextInt(64)),
      Array.fill(nTags)(r.nextDouble(-1, 1).toFloat), Array.fill(nTags)(r.nextDouble(-1, 1).toFloat),
      Array.fill(nTags)(r.nextDouble(-5, -2).toFloat))
  }

  def score(t: Array[Float]): Array[Float] = {
    val (fa, fb, wa, wb, bias) = params
    val band = t.length / 64
    val step = math.max(1, band / 64)
    val f = new Array[Float](64)
    var k = 0
    var all = 0.0
    while (k < 64) {
      var acc = 0.0
      var i = k * band
      var n = 0
      while (i < (k + 1) * band) { acc += t(i); i += step; n += 1 }
      f(k) = (acc / math.max(1, n)).toFloat
      all += f(k)
      k += 1
    }
    val mean = (all / 64).toFloat
    val out = new Array[Float](nTags)
    var j = 0
    while (j < nTags) {
      out(j) = bias(j) + 4f * (wa(j) * (f(fa(j)) - mean) + wb(j) * (f(fb(j)) - mean))
      j += 1
    }
    out
  }
}

/** Executor-side per-row timers of the decode layer, as accumulators. */
final class RowTimers(@transient sc: org.apache.spark.SparkContext) extends Serializable {
  private def acc(n: String): LongAccumulator = sc.longAccumulator(n)
  val preprocessNs: LongAccumulator = acc("preprocess_ns")
  val preprocessCalls: LongAccumulator = acc("preprocess_calls")
  val preprocessFailed: LongAccumulator = acc("preprocess_failed")
  val scoreNs: LongAccumulator = acc("score_ns")
  val scoreCalls: LongAccumulator = acc("score_calls")
  val decodeNs: LongAccumulator = acc("decode_ns")
  val padNs: LongAccumulator = acc("pad_ns")
  val resizeNs: LongAccumulator = acc("resize_ns")
  val resizeInPx: LongAccumulator = acc("resize_in_px")
  val reasons: CollectionAccumulator[String] = sc.collectionAccumulator[String]("reasons")

  /** Adds the counters to `tr`, `times` times (so per-job averages over
    * `times` traced jobs come out as one measurement). */
  def report(tr: Trace, times: Int = 1): Unit = {
    def put(name: String, v: Double): Unit = if (v != 0) tr.add(name, v * times)
    put("Images.preprocess.calls", preprocessCalls.value.toDouble)
    put("Images.preprocess.ms", preprocessNs.value / 1e6)
    put("Images.preprocess.failed", preprocessFailed.value.toDouble)
    put("Images.Scorer.calls", scoreCalls.value.toDouble)
    put("Images.Scorer.ms", scoreNs.value / 1e6)
    put("Images.readGuarded.ms", decodeNs.value / 1e6)
    put("Images.padSquare.ms", padNs.value / 1e6)
    put("images.PilResample.ms", resizeNs.value / 1e6)
    put("images.PilResample.in_pixels", resizeInPx.value.toDouble)
    reasons.value.asScala.foreach(r => tr.reasons(r) = tr.reasons.getOrElse(r, 0) + 1)
  }
}

object RowTimers {
  def apply(spark: SparkSession): RowTimers = new RowTimers(spark.sparkContext)

  private def time[T](a: LongAccumulator)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally a.add(System.nanoTime() - t0)
  }

  /** `Images.scoreImages` over a pinned scan, with `Images.preprocess`
    * and the scorer timed per row. Same output and status strings. */
  def score(scan: DataFrame, scorer: Images.Scorer, t: RowTimers): DataFrame = {
    val spark = scan.sparkSession
    import spark.implicits._
    scan.select(col("path"), col("content"), col("read_error"))
      .as[(String, Array[Byte], String)]
      .mapPartitions { it =>
        it.map {
          case (path, _, err) if err != null => (path, null.asInstanceOf[Array[Float]], err)
          case (path, null, _) => (path, null.asInstanceOf[Array[Float]], "error: null content")
          case (path, bytes, _) =>
            t.preprocessCalls.add(1)
            Try(time(t.preprocessNs)(Images.preprocess(bytes))).flatMap { x =>
              t.scoreCalls.add(1)
              Try(time(t.scoreNs)(scorer.score(x)))
            } match {
              case Success(logits) => (path, logits, "ok")
              case Failure(e) =>
                val msg = s"error: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}"
                t.preprocessFailed.add(1)
                t.reasons.add(msg.takeWhile(_ != ':') + ": " + e.getClass.getSimpleName)
                (path, null.asInstanceOf[Array[Float]], msg)
            }
        }
      }
      .toDF("path", "logits", "status")
  }

  /** The three thirds of `Images.preprocess`, timed one by one. */
  def breakdown(src: DataFrame, t: RowTimers): Unit = {
    val spark = src.sparkSession
    import spark.implicits._
    src.select(col("content")).as[Array[Byte]].foreachPartition { (it: Iterator[Array[Byte]]) =>
      it.filter(_ != null).foreach { bytes =>
        Try(time(t.decodeNs)(Images.readGuarded(bytes))).toOption.filter(_ != null).foreach { img =>
          val sq = time(t.padNs)(Images.padSquare(Images.pilEnsureRgb(bytes, img)))
          val s = sq.getWidth
          time(t.resizeNs) {
            graft.images.PilResample.resizeRgb(sq.getRGB(0, 0, s, s, null, 0, s), s, s, 448, 448)
          }
          t.resizeInPx.add(s.toLong * s)
        }
      }
    }
  }
}
