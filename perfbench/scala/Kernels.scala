package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{Dot128, MinhashBands, Shingles3, Simhash64}
import graft.pipeline.{ImageOps, ImageRecord}

/** Single-threaded kernel timings, called directly (no Spark plan):
  * graft's native `functions` on rows of the sf0.1 tables, and the
  * `ImageOps` augment steps on decoded images. Each figure is the
  * median over repetitions of the mean per-call time. */
object Kernels {
  private var sink = 0L // keeps results observable so no call is elided

  private def perCall(n: Int, reps: Int)(body: => Unit): Double = {
    // warm the JIT for at least 0.3 s, so the kernel is compiled however
    // hot the workload before it left it
    val warm = System.nanoTime() + 300000000L
    while (System.nanoTime() < warm) body
    val t = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble / n
    }.sorted
    t(t.size / 2)
  }

  /** functions.*_us on up to 2,000 documents and embeddings at sf0.1. */
  def functions(spark: SparkSession, sf01: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
      .select("text").limit(2000).collect()
      .map(r => Option(r.getString(0)).getOrElse("").split("\\s+").filter(_.nonEmpty))
      .map(t => new GenericArrayData(t.map(UTF8String.fromString): Array[Any]))
    val vecs = spark.read.parquet(s"$sf01/embeddings.parquet")
      .select("embedding").limit(2000).collect()
      .map(r => r.getSeq[Float](0).map(x => math.round(x.toDouble * 1e6)).toArray)
    val dim = vecs.groupBy(_.length).maxBy(_._2.length)._1
    val lv = vecs.filter(_.length == dim)
      .map(v => new GenericArrayData(v.map(x => x: Any)))
    val pairs = lv.indices.map(i => (lv(i), lv((i + 1) % lv.length)))
    val reps = 7
    Map(
      "functions.dot128_us" -> perCall(pairs.size, reps) {
        pairs.foreach { case (a, b) => sink += Dot128.dot(a, b).toLong }
      } / 1e3,
      "functions.minhash_bands_us" -> perCall(docs.length, reps) {
        docs.foreach { d => val b = MinhashBands.bands(d)
          if (b != null) sink += b.numElements() }
      } / 1e3,
      "functions.shingles3_us" -> perCall(docs.length, reps) {
        docs.foreach(d => sink += Shingles3.shingles(d).numElements())
      } / 1e3,
      "functions.simhash64_us" -> perCall(docs.length, reps) {
        docs.foreach(d => sink += Simhash64.simhash(d))
      } / 1e3)
  }

  /** pipeline.*_ms per image, for the augment chain's steps. */
  def pipeline(recs: Seq[ImageRecord], seed: Long): Map[String, Double] = {
    val n = recs.size
    val reps = 5
    val dec = recs.flatMap(ImageOps.decode)
    val res = dec.map(ImageOps.resizeArea(_, 224, 224))
    val fl = res.map(ImageOps.flipSeeded(_, seed))
    val ro = fl.map(ImageOps.rotate(_, 15.0))
    val ji = ro.map(ImageOps.colorJitter(_))
    def ms(body: => Unit) = perCall(n, reps)(body) / 1e6
    Map(
      "pipeline.decode_ms" -> ms(recs.foreach(r => sink += ImageOps.decode(r).size)),
      "pipeline.resize_ms" -> ms(dec.foreach(r =>
        sink += ImageOps.resizeArea(r, 224, 224).data.length)),
      "pipeline.flip_ms" -> ms(res.foreach(r =>
        sink += ImageOps.flipSeeded(r, seed).data.length)),
      "pipeline.rotate_ms" -> ms(fl.foreach(r =>
        sink += ImageOps.rotate(r, 15.0).data.length)),
      "pipeline.jitter_ms" -> ms(ro.foreach(r =>
        sink += ImageOps.colorJitter(r).data.length)),
      "pipeline.jpeg_encode_ms" -> ms(ji.foreach(r =>
        sink += ImageOps.jpegEncode(r).length)),
      "pipeline.chain_ms" -> ms(recs.foreach(r => sink += chain(r, seed).length)))
  }

  /** The augment chain of `ImagePipeline.augmentChain`, on one record. */
  def chain(rec: ImageRecord, seed: Long): Array[Byte] =
    ImageOps.decode(rec).map { img =>
      val r = ImageOps.resizeArea(img, 224, 224)
      val f = ImageOps.flipSeeded(r, seed)
      ImageOps.jpegEncode(ImageOps.colorJitter(ImageOps.rotate(f, 15.0)))
    }.getOrElse(Array.emptyByteArray)
}
