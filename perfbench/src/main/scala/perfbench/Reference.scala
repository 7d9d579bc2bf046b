package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/**
 * Computations made apart from the program, against which its outputs are
 * checked. None of them calls engine code: the hash embedding is written
 * from its specification (FIXTURES.md §4), top-k is a plain sort, and the
 * citation group-by is a plain fold. [[selfTest]] pins each one to a case
 * computed by hand and runs before any workload.
 */
object Reference {

  final case class Hit(id: Long, score: Double)

  /** Hash projection: lowercase, split on whitespace, character 3-grams
    * per token (shorter tokens count as themselves); each gram's md5 read
    * as its first 15 hex digits `h` adds `1 + h % 7` to bucket `h % dim`. */
  def hashEmbed(text: String, dim: Int = 64): Array[Double] = {
    val acc = new Array[Double](dim)
    val md5 = MessageDigest.getInstance("MD5")
    def gram(g: String): Unit = {
      val d = md5.digest(g.getBytes(StandardCharsets.UTF_8))
      var h = 0L
      for (i <- 0 until 8) h = (h << 8) | (d(i) & 0xffL)
      h = h >>> 4
      acc((h % dim).toInt) += (1L + h % 7L).toDouble
    }
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    val token = new StringBuilder
    def flush(): Unit = if (token.nonEmpty) {
      val t = token.toString
      if (t.length < 3) gram(t) else t.sliding(3).foreach(gram)
      token.clear()
    }
    lower.foreach { c => if (Character.isWhitespace(c)) flush() else token += c }
    flush()
    acc
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    require(a.length == b.length, s"dims differ: ${a.length} vs ${b.length}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Brute-force cosine top-k: score descending, id ascending, and the
    * threshold applied AFTER the top-k cut. */
  def topK(query: Array[Double], rows: Seq[(Long, Array[Double])], k: Int,
      threshold: Double): Seq[Hit] =
    rows.map { case (id, v) => Hit(id, cosine(query, v)) }
      .sortBy(h => (-h.score, h.id)).take(k).filter(_.score >= threshold)

  /** `None` when `got` is a valid answer with the ranked scores of
    * `expected`; else the first differing row. Rows whose scores tie
    * within `eps` may come in either order, and every returned id must
    * carry its true score (`truth`). */
  def diffHits(expected: Seq[Hit], got: Seq[Hit], truth: Long => Option[Double],
      eps: Double = 1e-6): Option[String] = {
    def row(i: Int): String =
      s"row $i: expected ${expected.lift(i).map(h => s"(${h.id}, ${h.score})").getOrElse("none")}" +
        s" got ${got.lift(i).map(h => s"(${h.id}, ${h.score})").getOrElse("none")}"
    if (got.map(_.id).distinct.length != got.length)
      return Some(s"duplicate ids in ${got.map(_.id).mkString(",")}")
    val n = math.max(expected.length, got.length)
    (0 until n).find { i =>
      i >= expected.length || i >= got.length ||
        math.abs(expected(i).score - got(i).score) > eps ||
        !truth(got(i).id).exists(t => math.abs(t - got(i).score) <= eps)
    }.map(row)
  }

  /** Chunks of a stripped text under fixed windows with overlap:
    * windows start every `size - overlap` characters. */
  def chunkCount(len: Int, size: Int, overlap: Int): Int = {
    val step = math.max(size - overlap, 1)
    if (len <= 0) 0 else (len + step - 1) / step
  }

  final case class Cite(fileName: String, filePath: String, fileType: String,
      scoreRange: String, minScore: Double)

  /** Citations as a plain group-by of hits `(file_path, file_name,
    * file_type, score)`: per file its score range (4 dp, one value when
    * min = max), ordered by minimum score then path. */
  def citations(hits: Seq[(String, String, String, Double)]): Seq[Cite] =
    hits.groupBy(_._1).toSeq.map { case (path, hs) =>
      val lo = hs.map(_._4).min
      val hi = hs.map(_._4).max
      val range = if (lo == hi) f"$lo%.4f" else f"$lo%.4f-$hi%.4f"
      Cite(hs.head._2, path, hs.head._3, range, lo)
    }.sortBy(c => (c.minScore, c.filePath))

  /** Share of the exact top-k ids that the approximate answer found. */
  def recall(approx: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else approx.toSet.intersect(exact.toSet).size.toDouble / exact.size

  /** Each computation against a case worked out by hand. */
  def selfTest(): Unit = {
    def expect(what: String, ok: Boolean): Unit =
      if (!ok) throw new IllegalStateException(s"reference self-test failed: $what")
    // md5("abc") = 900150983cd24fb0..., first 15 hex digits mod 64 = 59,
    // weight 1; "bcd" → bucket 30 weight 7; "ab" (short token) → 28, 5
    val e = hashEmbed("ABCD ab")
    expect("hashEmbed", e(59) == 1.0 && e(30) == 7.0 && e(28) == 5.0 && e.sum == 13.0)
    expect("cosine", math.abs(cosine(Array(1.0, 0.0), Array(1.0, 1.0)) -
      math.sqrt(0.5)) < 1e-15 && cosine(Array(0.0, 0.0), Array(1.0, 0.0)) == 0.0)
    val rows = Seq(2L -> Array(0.0, 1.0), 4L -> Array(1.0, 0.0),
      3L -> Array(1.0, 1.0), 1L -> Array(1.0, 0.0))
    val q = Array(1.0, 0.0)
    expect("topK order", topK(q, rows, 3, 0.5).map(_.id) == Seq(1L, 4L, 3L))
    // threshold after top-k: k = 3 takes id 3 (0.707), which 0.9 drops —
    // it is not replaced by the next candidate
    expect("topK threshold", topK(q, rows, 3, 0.9).map(_.id) == Seq(1L, 4L))
    expect("topK empty", topK(q, rows.take(1), 1, 0.5).isEmpty)
    val truth = Map(1L -> 1.0, 4L -> 1.0, 3L -> math.sqrt(0.5))
    val exp = topK(q, rows, 3, 0.5)
    expect("diffHits tie", diffHits(exp, Seq(Hit(4, 1.0), Hit(1, 1.0),
      Hit(3, math.sqrt(0.5))), truth.get).isEmpty)
    expect("diffHits wrong", diffHits(exp, Seq(Hit(1, 1.0), Hit(4, 1.0),
      Hit(2, math.sqrt(0.5))), truth.get).isDefined)
    expect("chunkCount", chunkCount(600, 1200, 600) == 1 &&
      chunkCount(601, 1200, 600) == 2 && chunkCount(1200, 1200, 600) == 2 &&
      chunkCount(0, 1200, 600) == 0)
    val cites = citations(Seq(("/a.txt", "a.txt", ".txt", 0.9),
      ("/b.md", "b.md", ".md", 0.5), ("/a.txt", "a.txt", ".txt", 0.7)))
    expect("citations", cites == Seq(
      Cite("b.md", "/b.md", ".md", "0.5000", 0.5),
      Cite("a.txt", "/a.txt", ".txt", "0.7000-0.9000", 0.7)))
    expect("recall", math.abs(recall(Seq(1L, 2L, 3L), Seq(1L, 2L, 4L)) - 2.0 / 3) < 1e-12)
  }
}
