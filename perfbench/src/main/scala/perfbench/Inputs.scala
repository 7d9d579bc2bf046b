package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators: the same seed gives the same inputs. */
object Inputs {

  /** Pseudo-words of 4-9 lowercase letters, distinct within the call. */
  def vocabulary(rnd: Random, n: Int, taken: Set[String] = Set.empty): Vector[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val w = Iterator.fill(4 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
      if (!taken.contains(w)) out += w
    }
    out.toVector
  }

  // ---------------------------------------------------------------- rag

  /** One generated document. `expected` is the text the extractor must
    * return, when the format's decoding is plain enough to know it
    * (`.txt`, `.md`, `.csv`); `None` for `.html`. */
  final case class Doc(name: String, ext: String, content: String,
      expected: Option[String])

  final case class Corpus(topics: Vector[Vector[String]], docs: Vector[Doc])

  /** Topic-structured documents: each topic owns a 40-word vocabulary and
    * every sentence draws three words in four from its document's topic,
    * the rest from 30 shared words. Formats: 40% `.txt`, 20% each `.md`,
    * `.html`, `.csv`; lengths uniform in [minChars, maxChars]. */
  def corpus(seed: Long, nDocs: Int, nTopics: Int, minChars: Int,
      maxChars: Int): Corpus = {
    val rnd = new Random(seed)
    val common = vocabulary(rnd, 30)
    val topics = (0 until nTopics).foldLeft(Vector.empty[Vector[String]]) { (acc, _) =>
      acc :+ vocabulary(rnd, 40, (common ++ acc.flatten).toSet)
    }
    def sentence(t: Int): String = {
      val n = 6 + rnd.nextInt(10)
      val ws = Vector.fill(n)(
        if (rnd.nextInt(4) < 3) topics(t)(rnd.nextInt(40)) else common(rnd.nextInt(30)))
      ws.head.capitalize + " " + ws.tail.mkString(" ") + "."
    }
    def paragraphs(t: Int, chars: Int): Vector[String] = {
      val out = Vector.newBuilder[String]
      var total = 0
      while (total < chars) {
        val p = Vector.fill(2 + rnd.nextInt(4))(sentence(t)).mkString(" ")
        out += p
        total += p.length + 2
      }
      out.result()
    }
    val docs = (0 until nDocs).map { i =>
      val t = rnd.nextInt(nTopics)
      val chars = minChars + rnd.nextInt(maxChars - minChars + 1)
      val ps = paragraphs(t, chars)
      val kind = rnd.nextInt(5)
      kind match {
        case 0 | 1 =>
          val text = ps.mkString("\n\n")
          Doc(f"doc$i%04d.txt", ".txt", text, Some(text))
        case 2 =>
          val text = s"# ${topics(t)(0)} ${topics(t)(1)} notes\n\n" + ps.mkString("\n\n")
          Doc(f"doc$i%04d.md", ".md", text, Some(text))
        case 3 =>
          val body = ps.map(p => s"<p>$p</p>").mkString("\n")
          val html = s"<html><head><title>${topics(t)(2)}</title></head>\n" +
            s"<body>\n<h1>${topics(t)(0)} ${topics(t)(3)}</h1>\n$body\n</body></html>\n"
          Doc(f"doc$i%04d.html", ".html", html, None)
        case _ =>
          // one sentence per row; commas inside a sentence would be
          // field separators, so the sentence column carries none
          val rows = ps.flatMap(_.split("(?<=\\.) ")).zipWithIndex.map {
            case (s, j) => (j, topics(t)(j % 40), s)
          }
          val csv = ("row,topic,sentence" +: rows.map { case (j, w, s) => s"$j,$w,$s" })
            .mkString("\n") + "\n"
          val text = ("row topic sentence" +: rows.map { case (j, w, s) => s"$j $w $s" })
            .mkString("\n")
          Doc(f"doc$i%04d.csv", ".csv", csv, Some(text))
      }
    }.toVector
    Corpus(topics, docs)
  }

  def writeCorpus(dir: Path, c: Corpus): Unit = {
    Files.createDirectories(dir)
    c.docs.foreach(d => Files.writeString(dir.resolve(d.name), d.content))
  }

  // ---------------------------------------------------------------- ann

  /** A mixture of `clusters` Gaussian clusters in `dim` dimensions: unit
    * centers, each point its center plus N(0, spread²/dim) per coordinate
    * (so a point lies about `spread` from its center). Returns the
    * stored points and, from the same mixture, `nQueries` query points. */
  def mixture(seed: Long, n: Int, nQueries: Int, dim: Int, clusters: Int,
      spread: Double): (Vector[Array[Float]], Vector[Array[Float]]) = {
    val rnd = new Random(seed)
    val centers = Vector.fill(clusters) {
      val c = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / norm)
    }
    val sd = spread / math.sqrt(dim.toDouble)
    def point(): Array[Float] = {
      val c = centers(rnd.nextInt(clusters))
      Array.tabulate(dim)(j => (c(j) + sd * rnd.nextGaussian()).toFloat)
    }
    (Vector.fill(n)(point()), Vector.fill(nQueries)(point()))
  }

  /** The vectors-table shape the store and searcher read: `(id, vector,
    * text, metadata)`. */
  def vectorsFrame(spark: SparkSession, points: Vector[Array[Float]]): DataFrame = {
    import spark.implicits._
    points.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("id", "vector")
      .select(col("id"), col("vector"),
        concat(lit("point "), col("id").cast("string")).as("text"),
        struct(concat(lit("/mixture/p"), col("id").cast("string")).as("file_path"),
          lit(".vec").as("file_type"),
          concat(lit("p"), col("id").cast("string")).as("file_name"),
          lit("vector").as("document_type")).as("metadata"))
  }

  // ---------------------------------------------------------- operators

  /** The three tables the operator list reads, shaped like the suite's
    * test data at about half its smallest scale: `documents` (250
    * word-salad docs over 30 words, with near-duplicate copies and shared
    * paragraphs), `embeddings` (300 64-d unit vectors in 10 clusters) and
    * `lineitem` (6,000 orders of 1-7 lines over 2,000 parts). */
  def writeOperatorTables(spark: SparkSession, seed: Long, dir: Path): Unit = {
    import spark.implicits._
    val rnd = new Random(seed)
    val words = vocabulary(rnd, 30)
    def salad(n: Int): String = Vector.fill(n)(words(rnd.nextInt(30))).mkString(" ")
    val langs = Vector("en", "en", "en", "de", "es", "fr", "zh")
    val shared = Vector.fill(6)(salad(12))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 250).foreach { i =>
      val text = rnd.nextInt(10) match {
        case 0 if i > 0 => // near-duplicate of an earlier document
          val src = texts(rnd.nextInt(i)).split(" ")
          src.indices.map(j => if (rnd.nextInt(25) == 0) words(rnd.nextInt(30)) else src(j))
            .mkString(" ")
        case 1 => // carries a paragraph other documents share
          salad(10 + rnd.nextInt(30)) + "\n\n" + shared(rnd.nextInt(6)) + "\n\n" +
            salad(10 + rnd.nextInt(30))
        case _ => salad(8 + rnd.nextInt(90))
      }
      texts += text
    }
    texts.toSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, langs(rnd.nextInt(langs.length)), s"src${rnd.nextInt(20)}",
        t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)

    val (pts, _) = mixture(rnd.nextLong(), 300, 0, 64, 10, 0.6)
    pts.zipWithIndex.map { case (v, i) =>
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, 0)
    }.toDF("vec_id", "embedding", "label")
      .withColumn("label", (col("vec_id") * 7 % 10).cast("int"))
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)

    val lines = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int, Double)]
    (0 until 6000).foreach { o =>
      (1 to 1 + rnd.nextInt(7)).foreach { ln =>
        lines += ((o.toLong, rnd.nextInt(2000).toLong, rnd.nextInt(100).toLong, ln,
          (1 + rnd.nextInt(50)).toDouble))
      }
    }
    lines.toSeq.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("lineitem.parquet").toString)
  }
}
