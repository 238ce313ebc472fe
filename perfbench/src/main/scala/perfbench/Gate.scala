package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.extract.{BlockOut, Span => OutSpan}
import graft.pages.{PageGen, SpanGolden}

/** What the generator says extraction must produce for one url. */
final case class Golden(url: String, text: String, spans: Array[SpanGolden])

/** A row of the extracted table as the gate reads it back. */
final case class OutRow(url: String, text: String, spans: Array[OutSpan],
                        blocks: Array[BlockOut], failed: Boolean)

/** The gate's verdict over one output table. `digest` is independent of
  * row order, so output identity can be compared across commits. */
final case class Verdict(checked: Long, failures: Long, digest: String, problems: Seq[String])

/** The correctness gate run on every timed call's output. */
object Gate {

  /** Goldens for pages 0 until n of `seed`, generated on the executors. */
  def goldens(spark: SparkSession, seed: Long, n: Int): Map[String, Golden] = {
    import spark.implicits._
    spark.range(0, n, 1, 32).mapPartitions(_.map { i =>
      val g = PageGen.pageFull(seed, i)
      Golden(g.row.url, g.row.text, g.spans.toArray)
    }).collect().iterator.map(g => g.url -> g).toMap
  }

  /** Reads back an extracted table, failed rows included. */
  def read(spark: SparkSession, table: String): Array[OutRow] = {
    import spark.implicits._
    spark.read.parquet(table).select(col("url"), col("text"), col("spans"), col("blocks"),
      col("failed").cast("boolean")).as[OutRow].collect()
  }

  /** Every expected url must appear exactly once, unfailed, with the golden
    * text byte for byte, the golden span offsets, kinds, tags, lines and
    * block geometry, and block and span orders that are the same
    * permutation of 1..n. Each url that breaks any rule is one failure. */
  def check(rows: Array[OutRow], goldens: Map[String, Golden]): Verdict = {
    val problems = Seq.newBuilder[String]
    var failures = 0L
    var digest = 0L
    val seen = new java.util.HashSet[String]()
    for (r <- rows) {
      val why = rowProblem(r, goldens.get(r.url), seen.add(r.url))
      if (why.nonEmpty) { failures += 1; problems += s"${r.url}: $why" }
      digest += rowHash(r)
    }
    val missing = goldens.keysIterator.filterNot(seen.contains).toSeq
    failures += missing.size
    missing.take(5).foreach(u => problems += s"$u: missing")
    Verdict(goldens.size.toLong, failures, f"$digest%016x", problems.result().take(5))
  }

  private def rowProblem(r: OutRow, golden: Option[Golden], firstSeen: Boolean): String =
    golden match {
      case None                => "not a generated url"
      case Some(_) if !firstSeen => "duplicate row"
      case Some(_) if r.failed => "extraction failed"
      case Some(g) =>
        val n = g.spans.length
        if (!java.util.Arrays.equals(r.text.getBytes(UTF_8), g.text.getBytes(UTF_8))) "text differs"
        else if (r.spans.length != n || r.blocks.length != n) "span count differs"
        else {
          val bad = (0 until n).find { k =>
            val (s, b, e) = (r.spans(k), r.blocks(k), g.spans(k))
            s.kind != e.kind || s.label != e.tag || s.start != e.start || s.end != e.end ||
              s.line != e.line || b.label != e.kind || b.line != e.line || b.order != s.order ||
              b.x != e.x || b.y != e.y || b.w != e.w || b.h != e.h
          }
          if (bad.nonEmpty) s"span ${bad.get} differs"
          else if (!r.spans.map(_.order).sorted.sameElements(1 to n)) "orders not a permutation of 1..n"
          else ""
        }
    }

  /** 64-bit hash of (url, text, span orders). */
  private def rowHash(r: OutRow): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(r.url.getBytes(UTF_8)); md.update(0.toByte)
    md.update(r.text.getBytes(UTF_8)); md.update(0.toByte)
    md.update(r.spans.map(_.order).mkString(",").getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }
}
