package graft.perfbench

import java.awt.image.BufferedImage
import java.awt.{Color, RenderingHints}
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths}
import javax.imageio.ImageIO

/** Seeded image corpus for the tag workloads: photo-like pictures
  * (gradient, shapes, per-pixel noise) in JPEG, PNG, BMP and GIF over a
  * few subdirectories, plus planted malformed files on top of them (2%,
  * at least one zero-byte, one non-image and one truncated PNG), listed
  * in `malformed.txt` next to the image root. The same arguments write
  * byte-identical files.
  *
  * Usage: Prep <outDir> <seed> <count> <minLongSide> <maxLongSide>
  */
object Prep {
  def main(args: Array[String]): Unit = {
    val Array(out, seed, count, lo, hi) = args
    writeCorpus(Paths.get(out), seed.toLong, count.toInt, lo.toInt, hi.toInt)
  }

  def writeCorpus(out: Path, seed: Long, count: Int, lo: Int, hi: Int): Unit = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + count)
    val root = out.resolve("images")
    // formats come in fixed shares and each format gets the same spread
    // of sizes, dealt out in a seeded order: every seed asks for the same
    // decode work. The malformed files come on top of the `count` images.
    val shares = Seq("jpg" -> 11, "png" -> 5, "bmp" -> 2, "gif" -> 2)
    val n = shares.map { case (f, w) => f -> math.max(1, count * w / 20) }.toMap
    val specs = shuffled(rng, shares.map(_._1).flatMap { f =>
      val m = if (f == "jpg") count - n.values.sum + n(f) else n(f)
      (0 until m).map(k => (f, lo + (hi - lo) * (2 * k + 1) / (2 * m)))
    })
    val nBad = math.max(3, math.round(count * 0.02).toInt)
    val malformed = (0 until nBad).map { b =>
      val rel = s"d${b % 4}/bad_$b.${Seq("png", "jpg", "png")(b % 3)}"
      write(root.resolve(rel), b % 3 match {
        case 0 => Array.emptyByteArray
        case 1 => s"not an image $b\n".getBytes("UTF-8")
        case _ =>
          val png = encode(picture(rng, lo), "png")
          java.util.Arrays.copyOf(png, png.length * 2 / 5)
      })
      rel
    }
    // one split generator per image, drawn in order, so the files do not
    // depend on how the parallel encoding is scheduled
    val jobs = specs.zipWithIndex.map { case ((ext, size), i) => (ext, size, i, rng.split()) }
    java.util.stream.IntStream.range(0, jobs.length).parallel().forEach { j =>
      val (ext, size, i, r) = jobs(j)
      write(root.resolve(s"d${i % 4}/img_$i.$ext"), encode(picture(r, size), ext))
    }
    Files.write(out.resolve("malformed.txt"),
      malformed.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private def write(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  private def shuffled[T](rng: java.util.SplittableRandom, xs: Seq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  private def picture(rng: java.util.SplittableRandom, long: Int): BufferedImage = {
    val short = math.max(1, long * 3 / 4)
    val (w, h) = if (rng.nextBoolean()) (long, short) else (short, long)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setRenderingHint(RenderingHints.KEY_ANTIALIASING, RenderingHints.VALUE_ANTIALIAS_ON)
    def color() = new Color(rng.nextInt(256), rng.nextInt(256), rng.nextInt(256))
    g.setPaint(new java.awt.GradientPaint(0, 0, color(), w.toFloat, h.toFloat, color()))
    g.fillRect(0, 0, w, h)
    for (_ <- 0 until 6 + rng.nextInt(10)) {
      g.setColor(color())
      val (x, y) = (rng.nextInt(w), rng.nextInt(h))
      val (sw, sh) = (1 + rng.nextInt(math.max(1, w / 2)), 1 + rng.nextInt(math.max(1, h / 2)))
      if (rng.nextBoolean()) g.fillOval(x - sw / 2, y - sh / 2, sw, sh)
      else g.fillRect(x - sw / 2, y - sh / 2, sw, sh)
    }
    g.dispose()
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var i = 0
    while (i < px.length) {
      val n = rng.nextInt(17) - 8
      val p = px(i)
      def ch(s: Int) = math.min(255, math.max(0, ((p >> s) & 0xff) + n))
      px(i) = (ch(16) << 16) | (ch(8) << 8) | ch(0)
      i += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    img
  }

  private def encode(img: BufferedImage, ext: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    require(ImageIO.write(img, if (ext == "jpg") "jpeg" else ext, bos), s"no $ext writer")
    bos.toByteArray
  }
}
