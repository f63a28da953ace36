package graft.ops

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Boilerplate / template-segment removal — the CCNet/RefinedWeb curation
  * step that strips nav bars, cookie banners and footer templates: a text
  * segment repeated VERBATIM across ≥ K distinct documents of the SAME
  * source is template, not content, and is cut from every document before
  * training. The fixture corpus has no newlines, so the segment unit is
  * the same disjoint 16-token span as [[TokenOps.spanDedup]] (a real web
  * corpus would segment on '\n' — only the split expression changes).
  *
  * Scale shape: one bounded segment generator (≤ n/16 per doc), a
  * per-(source, hash) distinct-doc count — 16-byte digests shuffle, not
  * text — then one left join back to mark boilerplate and a per-doc
  * hash-agg that reassembles the surviving segments in position order.
  * The per-source template set is tiny in practice (it IS the point of
  * templates), so at 100 TB the join-back side collapses to a broadcast
  * or bloom prune ([[graft.queries.ScaleOps]] bloomPruneJoin); the
  * general path shown here is still a single digest-keyed shuffle.
  * Mirrors the reference's curation surface (gravity-books has none;
  * SURVEY.md §2 LLM-pipeline extension mandate).
  */
object Boilerplate {

  /** Per-document boilerplate strip over the documents table: segment
    * counts plus the reassembled clean text (empty when a document is
    * pure template). K = 2 matches the fixture's maximum within-source
    * repetition; production corpora use higher K. */
  def boilerplateStrip(s: SparkSession, d: String, K: Int = 2): DataFrame =
    boilerplateStripFrom(Tables.fanout(s, Tables.documents(s, d)), K)

  /** Core over any (source, doc_id, text) frame — parameterized so specs
    * can plant template segments and assert per-source scoping. */
  def boilerplateStripFrom(docs: DataFrame, K: Int): DataFrame = {
    val segs = docs
      .select(col("source"), col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")))
      .select(col("source"), col("doc_id"),
        expr("explode(sequence(0L, (n - 1) div 16))").as("c"), col("ws"))
      .select(col("source"), col("doc_id"), col("c"),
        concat_ws(" ", expr("slice(ws, CAST(c * 16 + 1 AS INT), 16)")).as("seg"))
      .withColumn("h", md5(col("seg")))
    val boiler = segs.groupBy("source", "h")
      .agg(countDistinct("doc_id").as("ndocs"))
      .filter(col("ndocs") >= K)
      .select(col("source"), col("h"), lit(1L).as("is_boiler"))
    segs.join(boiler, Seq("source", "h"), "left")
      .groupBy("doc_id")
      // source is functionally dependent on doc_id; max (not first) keeps
      // the aggregate order-independent by construction
      .agg(max("source").as("source"),
        count(lit(1)).as("n_segments"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler_segments"),
        // collect_list drops nulls, so only content segments survive;
        // array_sort on (c, seg) structs restores document order
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN is_boiler IS NULL THEN struct(c, seg) END)), x -> x.seg), ' ')")
          .as("clean_text"))
      .orderBy("doc_id")
  }

  def boilerplateStripOracle(K: Int = 2): String = s"""
WITH w AS (SELECT source, doc_id, string_split(text, ' ') AS ws FROM documents),
sg AS (SELECT source, doc_id, CAST(u.c AS BIGINT) AS c,
         array_to_string(
           ws[(CAST(u.c AS INT) * 16 + 1):(CAST(u.c AS INT) * 16 + 16)],
           ' ') AS seg
       FROM w, UNNEST(range((len(ws) - 1) // 16 + 1)) AS u(c)),
sgh AS (SELECT *, md5(seg) AS h FROM sg),
b AS (SELECT source, h FROM sgh GROUP BY source, h
      HAVING count(DISTINCT doc_id) >= $K)
SELECT sgh.doc_id, any_value(sgh.source) AS source,
       count(*) AS n_segments,
       CAST(count(*) FILTER (WHERE b.h IS NOT NULL) AS BIGINT) AS n_boiler_segments,
       coalesce(string_agg(seg, ' ' ORDER BY c) FILTER (WHERE b.h IS NULL),
                '') AS clean_text
FROM sgh LEFT JOIN b ON sgh.source = b.source AND sgh.h = b.h
GROUP BY sgh.doc_id ORDER BY sgh.doc_id"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("boilerplate_strip", (s, d) => boilerplateStrip(s, d), boilerplateStripOracle())
  )
}
