package perfbench

import java.awt.image.BufferedImage
import java.io.File
import javax.imageio.ImageIO

/** Seeded image corpus shaped like the reference's Kaggle set: class
  * sub-folders of JPEGs around 320x250 with mixed sizes. The seed fixes
  * every image's size, pixels and class folder, so one seed always
  * yields the same files.
  *
  * Pixels are smooth colour gradients plus a few filled ellipses and
  * light per-pixel noise: enough structure that decode, resize and JPEG
  * encode do realistic work, without the cost of photographic content.
  */
object Corpus {
  val classes = 30

  def generate(dir: File, images: Int, seed: Long): Unit = {
    ImageIO.setUseCache(false)
    val rnd = new scala.util.Random(seed)
    (0 until images).foreach { i =>
      val w = 256 + rnd.nextInt(129) // 256..384
      val h = 200 + rnd.nextInt(101) // 200..300
      val cls = rnd.nextInt(classes)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val base = Array.fill(3)(rnd.nextInt(256))
      val grad = Array.fill(3)(rnd.nextInt(5) - 2)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val n = rnd.nextInt(17) - 8
          var rgb = 0
          var k = 0
          while (k < 3) {
            val c = base(k) + grad(k) * (x + y) / 4 + n
            rgb = (rgb << 8) | math.max(0, math.min(255, c))
            k += 1
          }
          img.setRGB(x, y, rgb)
          x += 1
        }
        y += 1
      }
      val g = img.createGraphics()
      (0 until 3 + rnd.nextInt(4)).foreach { _ =>
        g.setColor(new java.awt.Color(rnd.nextInt(256), rnd.nextInt(256),
          rnd.nextInt(256)))
        g.fillOval(rnd.nextInt(w), rnd.nextInt(h), 20 + rnd.nextInt(w / 2),
          20 + rnd.nextInt(h / 2))
      }
      g.dispose()
      val sub = new File(dir, f"class_$cls%02d")
      sub.mkdirs()
      ImageIO.write(img, "jpg", new File(sub, f"img_$i%05d.jpg"))
    }
  }

  /** `Corpus <dir> <images> <seed>`: write the corpus into a fresh
    * temporary sibling, then rename it into place, so an interrupted
    * run never leaves a partial corpus behind. */
  def main(args: Array[String]): Unit = {
    val Array(dir, images, seed) = args
    val target = new File(dir)
    val tmp = new File(target.getParentFile, target.getName + ".tmp")
    if (tmp.exists()) deleteTree(tmp)
    generate(tmp, images.toInt, seed.toLong)
    if (!tmp.renameTo(target))
      throw new IllegalStateException(s"cannot move corpus into $target")
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
