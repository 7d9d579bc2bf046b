package graft.format

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.model.Citation

/**
 * Citation aggregation (SURVEY §2.5 A1-A4), re-expressing
 * `format_citations` (`/root/reference/utilities.py:24-77`): group hits by
 * `file_path`; per file keep the name/type, min-max similarity-score range,
 * and (PDFs only) the set of pages coalesced into consecutive ranges;
 * order citations by per-file min score ascending.
 *
 * A fold on the driver: its input is a search's ≤ k hits, which the
 * caller holds on the driver already, so a Spark aggregation would only
 * add jobs.
 */
object Citations {

  /** A3: merge sorted pages into "s-e" ranges, comma-joined
    * (`utilities.py:42-56`), e.g. `[1,2,3,7] → "1-3, 7"`. */
  def coalesceRanges(pages: Seq[Int]): String = {
    if (pages == null || pages.isEmpty) return ""
    val sorted = pages.distinct.sorted
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var start = sorted.head
    var prev = sorted.head
    for (p <- sorted.tail) {
      if (p == prev + 1) prev = p
      else { out += fmt(start, prev); start = p; prev = p }
    }
    out += fmt(start, prev)
    out.mkString(", ")
  }
  private def fmt(s: Int, e: Int): String = if (s == e) s.toString else s"$s-$e"

  /** A2: `"lo-hi"` (4dp) or the single value when equal (`utilities.py:59-61`). */
  def scoreRange(lo: Double, hi: Double): String =
    if (lo == hi) f"$lo%.4f" else f"$lo%.4f-$hi%.4f"

  /** Citations of search hits carrying `metadata` (STRUCT) and
    * `similarity_score` columns: collects them, then [[fold]]s. */
  def citations(hits: DataFrame): Seq[Citation] =
    fold(hits.select(col("metadata"), col("similarity_score")).collect().toIndexedSeq
      .map(r => r.getStruct(0) -> r.getDouble(1)))

  /** Citation rows of `(metadata, similarity_score)` hits, ordered by
    * ascending min score, then file path (A4). Name and type come from a
    * file's first hit; pages are kept for `.pdf` files only. */
  def fold(hits: Seq[(Row, Double)]): Seq[Citation] =
    hits.groupBy { case (m, _) => Option(m.getAs[String]("file_path")) }.toSeq
      .map { case (path, group) =>
        val first = group.head._1
        val fileType = first.getAs[String]("file_type")
        val scores = group.map(_._2)
        val pages =
          if (fileType != ".pdf") ""
          else coalesceRanges(group.map(_._1).flatMap { m =>
            val i = m.fieldIndex("page_number")
            if (m.isNullAt(i)) None else Some(m.getInt(i))
          })
        Citation(
          file_name = first.getAs[String]("file_name"),
          file_path = path.orNull,
          file_type = fileType,
          score_range = scoreRange(scores.min, scores.max),
          pages = pages,
          min_score = scores.min)
      }
      .sortWith { (a, b) =>
        a.min_score < b.min_score ||
          (a.min_score == b.min_score && Option(a.file_path).getOrElse("") <
            Option(b.file_path).getOrElse(""))
      }
}
