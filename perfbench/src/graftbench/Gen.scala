package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators: every byte a workload feeds the system comes
  * from here, so the same seed gives the same inputs. */
object Gen {
  val BatchBytes = 65536

  /** English function words: they make documents pass the quality rules the
    * way real prose does, and give payload text realistic repetition. */
  val Stopwords: Array[String] = Array("the", "and", "of", "to", "is", "that", "it", "for",
    "with", "as", "they", "at", "be", "this", "have", "from", "are", "not", "which", "their")

  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream * 0xC2B2AE3D27D4EB4FL ^ index)

  /** 2,000 distinct lowercase words of 3 to 10 letters. */
  def vocabulary(seed: Long): Array[String] = {
    val r = rng(seed, 1L, 0L)
    val out = new java.util.LinkedHashSet[String]()
    while (out.size < 2000)
      out.add(Array.fill(3 + r.nextInt(8))(('a' + r.nextInt(26)).toChar).mkString)
    out.toArray(new Array[String](0))
  }

  private def word(r: SplittableRandom, vocab: Array[String]): String =
    if (r.nextInt(10) < 4) Stopwords(r.nextInt(Stopwords.length))
    else vocab(r.nextInt(vocab.length))

  private val StopBytes = Stopwords.map(_.getBytes(UTF_8))
  private val Hex = "0123456789abcdef".getBytes(UTF_8)
  private val IdKey = "{\"id\":\"".getBytes(UTF_8)
  private val UserKey = "\",\"user\":".getBytes(UTF_8)
  private val TextKey = ",\"text\":\"".getBytes(UTF_8)
  private val End = "\"}\n".getBytes(UTF_8)

  /** One 64 KiB record batch of JSON-lines records (hex id, user, text from
    * the seeded vocabulary, given as UTF-8 words). Compresses about 1.6x. */
  def payload(words: Array[Array[Byte]], r: SplittableRandom): Array[Byte] = {
    val out = new Array[Byte](BatchBytes + 1024)
    var n = 0
    def put(b: Array[Byte]): Unit = { System.arraycopy(b, 0, out, n, b.length); n += b.length }
    while (n < BatchBytes) {
      put(IdKey)
      val id = r.nextLong()
      var k = 60
      while (k >= 0) { out(n) = Hex(((id >>> k) & 0xF).toInt); n += 1; k -= 4 }
      put(UserKey)
      put(Integer.toString(r.nextInt(100000)).getBytes(UTF_8))
      put(TextKey)
      var w = 5 + r.nextInt(30)
      while (w > 0) {
        put(if (r.nextInt(10) < 4) StopBytes(r.nextInt(StopBytes.length)) else words(r.nextInt(words.length)))
        out(n) = ' '; n += 1; w -= 1
      }
      put(End)
    }
    java.util.Arrays.copyOf(out, BatchBytes)
  }

  /** A frame of `n` payload batches for stream `stream`, row `i` built from
    * (seed, stream, i). `seq` numbers the batches so readers can check them. */
  def frame(spark: SparkSession, seed: Long, stream: Long, first: Long, n: Int,
            vocab: Array[String], partitions: Int): DataFrame = {
    val bv = spark.sparkContext.broadcast(vocab.map(_.getBytes(UTF_8)))
    import spark.implicits._
    spark.range(first, first + n, 1, partitions).as[Long].mapPartitions { it =>
      it.map(i => (payload(bv.value, rng(seed, stream, i)), i))
    }(Encoders.tuple(Encoders.BINARY, Encoders.scalaLong)).toDF("payload", "seq")
      .select(col("payload"), map(lit("seq"), col("seq").cast("string")).as("properties"))
  }

  /** Planted truth of a generated corpus. Copies always get larger ids than
    * their original, so "keep the smallest id" keeps the original. */
  final case class Corpus(docs: Seq[(Long, String)], exactCopies: Set[Long],
                          nearCopies: Set[Long], lowQuality: Set[Long]) {
    def copies: Set[Long] = exactCopies ++ nearCopies
  }

  /** `n` documents of about 1.2 KB: originals, then planted exact copies
    * (5%), near-copies (10%, two words replaced, Jaccard well above 0.5) and
    * low-quality documents (5%, too short or mostly digits). */
  def corpus(seed: Long, n: Int, vocab: Array[String]): Corpus = {
    val r = rng(seed, 2L, 0L)
    val nExact = n / 20
    val nNear = n / 10
    val nLow = n / 20
    val nOrig = n - nExact - nNear - nLow
    def doc(words: Int) = Array.fill(words)(word(r, vocab))
    val orig = Array.fill(nOrig)(doc(150 + r.nextInt(60)))
    val docs = Array.newBuilder[(Long, String)]
    orig.zipWithIndex.foreach { case (w, i) => docs += (i.toLong -> w.mkString(" ")) }
    var id = nOrig.toLong
    val exact = (0 until nExact).map { _ =>
      docs += (id -> orig(r.nextInt(nOrig)).mkString(" ")); id += 1; id - 1
    }
    // near-copies come in pairs around one original, two words replaced in
    // each: the same cluster shape for every seed, so the work a pass does
    // depends on the corpus size, not on the seed
    val near = (0 until nNear).map { k =>
      val w = orig((k / 2 * 7919) % nOrig).clone()
      (0 until 2).foreach(_ => w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length)))
      docs += (id -> w.mkString(" ")); id += 1; id - 1
    }
    val low = (0 until nLow).map { k =>
      val text =
        if (k % 2 == 0) doc(30).mkString(" ")
        else Array.fill(150)(r.nextInt(1000000).toString).mkString(" ")
      docs += (id -> text); id += 1; id - 1
    }
    Corpus(docs.result().toSeq, exact.toSet, near.toSet, low.toSet)
  }
}
