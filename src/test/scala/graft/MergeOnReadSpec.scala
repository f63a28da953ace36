package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MergeOnRead
import graft.util.AtomicTable

/** Merge-on-read MERGE (ops/MergeOnRead.scala): the oracle gate proves
  * the merged ANSWER; this spec proves the mechanics — no data-file
  * rewrites, replace semantics vs a recompute, DV reach into
  * merge-inserted files, and compaction. */
class MergeOnReadSpec extends AnyFunSuite {
  import TestSpark._

  private def stage(name: String): String = {
    val base = s"/tmp/graft_mor_spec/$name"
    AtomicTable.deleteRecursively(Paths.get(base))
    AtomicTable.publish(base) { dir =>
      Tables.orders(spark, sf).repartition(4).write.mode("overwrite").parquet(dir)
    }
    base
  }

  private def dataFiles(base: String): Map[String, (Long, Long)] = {
    val ver = Paths.get(AtomicTable.resolve(base).get)
    Files.list(ver).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_")
        && !p.getFileName.toString.startsWith("."))
      .map(p => p.getFileName.toString ->
        (Files.size(p), Files.getLastModifiedTime(p).toMillis))
      .toMap
  }

  /** The merge batch both tests use: keys ≡ 0 mod 5 get price+100 and a
    * marker status; keys offset by 10^9 insert fresh. */
  private def batch(): DataFrame = {
    val o = Tables.orders(spark, sf)
    o.where(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
      .withColumn("o_orderstatus", lit("M"))
      .unionByName(
        o.where(col("o_orderkey") % 11 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)))
  }

  test("MERGE rewrites no data file and equals the direct recompute") {
    val base = stage("upsert")
    val before = dataFiles(base)
    val o = Tables.orders(spark, sf)
    MergeOnRead.mergeUpsert(spark, base, batch(), "o_orderkey")
    assert(dataFiles(base) == before, "MERGE must not rewrite data files")

    val want = o.where(col("o_orderkey") % 5 =!= 0)
      .unionByName(batch())
    val got = MergeOnRead.readMerged(spark, base)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "merged read must equal unmatched ∪ batch")
  }

  test("a second merge reaches rows the first merge inserted (_mor positions)") {
    val base = stage("morpos")
    MergeOnRead.mergeUpsert(spark, base, batch(), "o_orderkey")
    val inserted = MergeOnRead.readMerged(spark, base)
      .where(col("o_orderkey") >= 1000000000L)
    val nInserted = inserted.count()
    assert(nInserted > 0, "fixture needs merge-inserted rows")
    // second batch: update ONLY the rows the first merge inserted
    val b2 = Tables.orders(spark, sf).where(col("o_orderkey") % 11 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
      .withColumn("o_orderpriority", lit("0-SECOND"))
    MergeOnRead.mergeUpsert(spark, base, b2, "o_orderkey")
    val after = MergeOnRead.readMerged(spark, base)
      .where(col("o_orderkey") >= 1000000000L)
    assert(after.count() == nInserted,
      "replacing inserted rows must not change their count")
    assert(after.where(col("o_orderpriority") =!= "0-SECOND").count() == 0L,
      "every merge-inserted row must carry the second merge's update")
  }

  test("a DELETE after a MERGE reaches the merge-written row versions") {
    val base = stage("delete_after_merge")
    val o = Tables.orders(spark, sf)
    MergeOnRead.mergeUpsert(spark, base, batch(), "o_orderkey")
    // an updated key lives on only as its _mor row version
    val k = o.where(col("o_orderkey") % 5 === 0).agg(min("o_orderkey")).head().get(0)
    MergeOnRead.deleteWhere(spark, base, col("o_orderkey") === k)
    assert(MergeOnRead.readMerged(spark, base).where(col("o_orderkey") === k).count() == 0L,
      "a deleted key must not survive as the merge's row version")
    // a predicate only _mor rows match: every updated row carries status M
    MergeOnRead.deleteWhere(spark, base, col("o_orderstatus") === "M")
    val want = o.where(col("o_orderkey") % 5 =!= 0)
      .unionByName(batch().where(col("o_orderstatus") =!= "M"))
    val got = MergeOnRead.readMerged(spark, base)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "the delete must remove exactly the merge-updated rows")
  }

  test("compaction publishes a sidecar-free version with identical contents") {
    val base = stage("compact")
    MergeOnRead.mergeUpsert(spark, base, batch(), "o_orderkey")
    val want = MergeOnRead.readMerged(spark, base)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("p"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val verBefore = AtomicTable.resolve(base).get
    MergeOnRead.compactMerged(spark, base, nFiles = 4)
    val verAfter = AtomicTable.resolve(base).get
    assert(verAfter != verBefore)
    assert(!Files.isDirectory(Paths.get(s"$verAfter/_dv")) &&
      !Files.isDirectory(Paths.get(s"$verAfter/_mor")),
      "the compacted version starts with no sidecars")
    val got = AtomicTable.read(spark, base)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("p"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == want.keySet &&
      got.forall { case (k, (n, p)) =>
        want(k)._1 == n && math.abs(want(k)._2 - p) < 1e-6 },
      "compaction changed the table's contents")
  }

  test("full MERGE matrix: update/delete/insert/not-matched-by-source") {
    val base = stage("full")
    val before = dataFiles(base)
    val o = Tables.orders(spark, sf)
    val src = o.where(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(7.0))
      .unionByName(
        o.where(col("o_orderkey") % 19 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
          .withColumn("o_orderstatus", lit("X")))
    MergeOnRead.mergeFull(spark, base, src, "o_orderkey",
      matchedUpdateCond = col("o_orderstatus") === "F",
      updateSet = Map(
        "o_totalprice" -> col("__src_o_totalprice"),
        "o_orderpriority" -> lit("1-UPDATED")),
      matchedDeleteCond = col("o_orderstatus") === "P",
      insertNotMatched = true,
      notMatchedBySourceDeleteCond = col("o_orderkey") % 3 === 0)
    assert(dataFiles(base) == before, "MERGE must not rewrite data files")

    val want = o.where(col("o_orderkey") % 5 === 0 && col("o_orderstatus") === "F")
      .withColumn("o_totalprice", col("o_totalprice") + lit(7.0))
      .withColumn("o_orderpriority", lit("1-UPDATED"))
      .unionByName(o.where(
        col("o_orderkey") % 5 === 0 && col("o_orderstatus") === "O"))
      .unionByName(o.where(
        col("o_orderkey") % 5 =!= 0 && col("o_orderkey") % 3 =!= 0))
      .unionByName(o.where(col("o_orderkey") % 19 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
        .withColumn("o_orderstatus", lit("X")))
    val got = MergeOnRead.readMerged(spark, base)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "full-matrix merge must equal the direct clause restatement")
  }

  /** The change-feed consistency law: applying a commit's change rows to
    * the pre-merge state must land EXACTLY on the post-merge table —
    * post = (pre ∖ preimages ∖ deletes) ∪ postimages ∪ inserts. A wrong
    * preimage (e.g. computed after the DV landed), a mis-typed row, or a
    * missed clause all break the multiset identity. */
  private def assertCdfReplays(base: String,
      pre: org.apache.spark.sql.DataFrame): Unit = {
    val cols = pre.columns.toSeq
    val ch = spark.read.parquet(base + "/_changes")
    def pick(t: String) = ch.filter(col("_change_type") === t)
      .select(cols.map(col): _*)
    val replay = pre
      .exceptAll(pick("update_preimage")).exceptAll(pick("delete"))
      .unionByName(pick("update_postimage")).unionByName(pick("insert"))
    val got = MergeOnRead.readMerged(spark, base)
    assert(replay.exceptAll(got).isEmpty && got.exceptAll(replay).isEmpty,
      "replaying the change feed over the pre-state must reproduce the merged table")
  }

  test("upsert CDF: the change feed replays the merge and stamps the commit version") {
    val base = stage("cdf_upsert")
    val pre = AtomicTable.read(spark, base)
    MergeOnRead.mergeUpsert(spark, base, batch(), "o_orderkey",
      cdfVersion = Some(7L))
    assertCdfReplays(base, pre)
    val versions = spark.read.parquet(base + "/_changes")
      .select("_commit_version").distinct().collect().map(_.getLong(0)).toSeq
    assert(versions == Seq(7L), "every change row carries its commit version")
  }

  test("second-commit CDF: preimages reflect the pre-merge state, not the arriving batch (recacheByPath regression)") {
    // the observed production bug: the sidecar appends land under the
    // cached classification's read paths, CacheManager.recacheByPath
    // RECOMPUTES the cache, and commit 2's "preimages" silently become
    // the batch's own (post) values. Replay of EACH commit over its own
    // pre-state is the law that catches it.
    val base = stage("cdf_two_commits")
    val o = Tables.orders(spark, sf)
    val b1 = batch()
    MergeOnRead.mergeUpsert(spark, base, b1, "o_orderkey", cdfVersion = Some(1L))
    val afterC1 = MergeOnRead.readMerged(spark, base).localCheckpoint()
    // commit 2 updates rows commit 1 INSERTED (the offset keys) — its
    // preimages live in _mor files, the exact recache-corruption shape
    val b2 = o.where(col("o_orderkey") % 11 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
      .withColumn("o_totalprice", col("o_totalprice") + lit(5.0))
    MergeOnRead.mergeUpsert(spark, base, b2, "o_orderkey", cdfVersion = Some(2L))
    val cols = o.columns.toSeq
    val ch = spark.read.parquet(base + "/_changes")
      .filter(col("_commit_version") === 2L)
    def pick(t: String) = ch.filter(col("_change_type") === t)
      .select(cols.map(col): _*)
    // commit-2 preimages must be the POST-COMMIT-1 rows at those keys —
    // original prices, NOT the +5.0 batch values
    val wantPre = afterC1.join(
      b2.select(col("o_orderkey")), Seq("o_orderkey"), "left_semi")
    val gotPre = pick("update_preimage")
    assert(gotPre.count() == wantPre.count() && wantPre.count() > 0)
    assert(gotPre.exceptAll(wantPre).isEmpty && wantPre.exceptAll(gotPre).isEmpty,
      "commit-2 preimages must carry pre-merge values, not the batch's")
    // and the commit-2 feed replays over the post-commit-1 state
    val replay = afterC1
      .exceptAll(pick("update_preimage")).exceptAll(pick("delete"))
      .unionByName(pick("update_postimage")).unionByName(pick("insert"))
    val got = MergeOnRead.readMerged(spark, base)
    assert(replay.exceptAll(got).isEmpty && got.exceptAll(replay).isEmpty)
  }

  test("second full-matrix MERGE classifies from the pre-merge state (existing sidecars)") {
    val base = stage("full_two_commits")
    val o = Tables.orders(spark, sf)
    // commit 1: plain upsert grows _dv and _mor
    MergeOnRead.mergeUpsert(spark, base, batch(), "o_orderkey")
    val afterC1 = MergeOnRead.readMerged(spark, base).localCheckpoint()
    // commit 2: full matrix whose update hits rows living in _mor ('M'
    // rows written by commit 1) — a recache mid-merge would re-classify
    val src = afterC1.where(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(3.0))
      .localCheckpoint()
    MergeOnRead.mergeFull(spark, base, src, "o_orderkey",
      matchedUpdateCond = col("o_orderstatus").isin("M", "O"),
      updateSet = Map("o_totalprice" -> col("__src_o_totalprice")),
      matchedDeleteCond = col("o_orderstatus") === "P",
      insertNotMatched = false,
      notMatchedBySourceDeleteCond = lit(false))
    val want = afterC1.where(col("o_orderkey") % 2 =!= 0
        || !col("o_orderstatus").isin("M", "O", "P"))
      .unionByName(afterC1.where(col("o_orderkey") % 2 === 0
          && col("o_orderstatus").isin("M", "O"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(3.0)))
    val got = MergeOnRead.readMerged(spark, base)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "a second merge must classify against the pre-merge live state")
  }

  test("CDF with a TABLE-DERIVED batch: postimages carry the batch's values, not a re-read") {
    // the reviewer scenario for the batch-side recache hazard: the batch
    // itself derives from readMerged, so an unpinned batch would
    // re-evaluate over the grown sidecars mid-merge (postimages doubling
    // the delta, or rows vanishing into the DV)
    val base = stage("cdf_tablebatch")
    val o = Tables.orders(spark, sf)
    MergeOnRead.mergeUpsert(spark, base, batch(), "o_orderkey") // grow sidecars
    val preState = MergeOnRead.readMerged(spark, base).localCheckpoint()
    val tableBatch = MergeOnRead.readMerged(spark, base)
      .where(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(5.0))
    MergeOnRead.mergeUpsert(spark, base, tableBatch, "o_orderkey",
      cdfVersion = Some(1L))
    val cols = o.columns.toSeq
    val ch = spark.read.parquet(base + "/_changes")
    def pick(t: String) = ch.filter(col("_change_type") === t)
      .select(cols.map(col): _*)
    // postimage prices must be pre-state + 5.0 exactly (a re-read after
    // the merge's own appends would compute +10.0 or lose rows)
    val wantPost = preState.where(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(5.0))
    val gotPost = pick("update_postimage")
    assert(gotPost.count() == wantPost.count() && wantPost.count() > 0)
    assert(gotPost.exceptAll(wantPost).isEmpty && wantPost.exceptAll(gotPost).isEmpty,
      "postimages must be the batch's values as of the PRE-merge state")
    // and the full replay law holds over the pre-state
    val replay = preState
      .exceptAll(pick("update_preimage")).exceptAll(pick("delete"))
      .unionByName(pick("update_postimage")).unionByName(pick("insert"))
    val got = MergeOnRead.readMerged(spark, base)
    assert(replay.exceptAll(got).isEmpty && got.exceptAll(replay).isEmpty)
  }

  test("full-matrix CDF: all four change types present and the feed replays the merge") {
    val base = stage("cdf_full")
    val pre = AtomicTable.read(spark, base)
    val o = Tables.orders(spark, sf)
    val src = o.where(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(7.0))
      .unionByName(
        o.where(col("o_orderkey") % 19 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
          .withColumn("o_orderstatus", lit("X")))
    MergeOnRead.mergeFull(spark, base, src, "o_orderkey",
      matchedUpdateCond = col("o_orderstatus") === "F",
      updateSet = Map(
        "o_totalprice" -> col("__src_o_totalprice"),
        "o_orderpriority" -> lit("1-UPDATED")),
      matchedDeleteCond = col("o_orderstatus") === "P",
      insertNotMatched = true,
      notMatchedBySourceDeleteCond = col("o_orderkey") % 3 === 0,
      cdfVersion = Some(1L))
    val types = spark.read.parquet(base + "/_changes")
      .select("_change_type").distinct().collect().map(_.getString(0)).toSet
    assert(types == Set("update_preimage", "update_postimage", "delete", "insert"),
      s"the full matrix must emit all four Delta change types, got $types")
    assertCdfReplays(base, pre)
  }

  test("schema-evolving merge: union schema with NULL backfill, old readers keep working") {
    val base = stage("evolve")
    val o = Tables.orders(spark, sf)
    val batch = o.where(col("o_orderkey") % 4 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      .withColumn("o_channel",
        when(col("o_orderkey") % 8 === 0, "web").otherwise("store"))
    MergeOnRead.mergeUpsert(spark, base, batch, "o_orderkey")
    val evolved = MergeOnRead.readMergedEvolved(spark, base)
    assert(evolved.columns.contains("o_channel"),
      "the evolved read must surface the batch's new column")
    // merged rows carry their channel; pre-evolution rows read NULL
    val n4 = o.where(col("o_orderkey") % 4 === 0).count()
    assert(evolved.where(col("o_channel").isNotNull).count() == n4)
    assert(evolved.where(col("o_channel").isNull).count() ==
      o.count() - n4, "pre-evolution rows must backfill as NULL")
    assert(evolved.where(col("o_channel") === "web").count() ==
      o.where(col("o_orderkey") % 8 === 0).count())
    // an OLD reader projecting the original schema still works
    val old = MergeOnRead.readMerged(spark, base)
    assert(old.columns.toSeq == o.columns.toSeq)
    assert(old.count() == o.count())
  }

  test("cloning a LIVE merged table preserves its merge state (filename-keyed sidecars relocate)") {
    val base = stage("relocate")
    MergeOnRead.mergeUpsert(spark, base, batch(), "o_orderkey")
    val merged = MergeOnRead.readMerged(spark, base).localCheckpoint()
    // positions key the file NAME, so the hardlinked clone's _dv/_mor
    // sidecars still match its (relinked) data files — the merged read
    // must serve exactly the source's merge-applied state: a path-keyed
    // DV would silently resurrect every deleted row here
    val cloneDst = base + "_clone"
    AtomicTable.deleteRecursively(Paths.get(cloneDst)) // stale from prior runs
    AtomicTable.cloneTable(base, cloneDst)
    val got = MergeOnRead.readMerged(spark, cloneDst)
    assert(got.count() == merged.count())
    assert(got.exceptAll(merged).isEmpty && merged.exceptAll(got).isEmpty,
      "the clone's merged read must equal the source's")
    // ... and an append to the clone carries the sidecars forward too
    AtomicTable.publishAppend(cloneDst, keep = 2)(d =>
      Tables.orders(spark, sf)
        .withColumn("o_orderkey", col("o_orderkey") + lit(7000000000L))
        .limit(10).coalesce(1).write.mode("append").parquet(d))
    assert(MergeOnRead.readMerged(spark, cloneDst).count() == merged.count() + 10,
      "append on a merged clone must keep deletes applied and add the batch")
  }

  test("cloning a skipping table keeps zone-map pruning correct (stats relocate by file name)") {
    import graft.ops.DataSkipping
    val base = s"/tmp/graft_mor_spec/relocate_skip"
    AtomicTable.deleteRecursively(Paths.get(base))
    DataSkipping.optimizedWrite(spark,
      Tables.orders(spark, sf), base,
      clusterCols = Seq("o_orderkey"), statsCols = Seq("o_orderkey"),
      bloomCol = None, nFiles = 4)
    val cloneDst = base + "_clone"
    AtomicTable.deleteRecursively(Paths.get(cloneDst))
    AtomicTable.cloneTable(base, cloneDst)
    // the clone's stats must point INTO the clone (stats() reconstructs
    // paths against the live version dir) and prune exactly as the source
    val probe = Tables.orders(spark, sf)
      .agg(min("o_orderkey")).head().getLong(0)
    val (kept, total) = DataSkipping.pruneFiles(spark, cloneDst,
      DataSkipping.rangeKeep("o_orderkey", lit(probe), lit(probe)))
    assert(total == 4 && kept.size < 4, "pruning must drop files on the clone")
    assert(kept.forall(_.contains("_clone/")),
      "clone stats must resolve to the CLONE's files, not the source's")
    val got = DataSkipping.readFiles(spark, cloneDst, kept)
      .where(col("o_orderkey") === probe).count()
    assert(got == Tables.orders(spark, sf)
      .where(col("o_orderkey") === probe).count(),
      "the skipping read over the clone must be answer-identical")
  }

  test("full MERGE without inserts: matched-DELETEd keys must NOT resurrect") {
    val base = stage("noresurrect")
    val o = Tables.orders(spark, sf)
    // source = every 'P' order; clause matrix deletes all of them
    val src = o.where(col("o_orderstatus") === "P")
    val nP = src.count()
    assert(nP > 0, "fixture needs P orders")
    MergeOnRead.mergeFull(spark, base, src, "o_orderkey",
      matchedUpdateCond = lit(false),
      updateSet = Map.empty,
      matchedDeleteCond = lit(true),
      insertNotMatched = true,
      notMatchedBySourceDeleteCond = lit(false))
    val after = MergeOnRead.readMerged(spark, base)
    assert(after.where(col("o_orderstatus") === "P").count() == 0L,
      "matched DELETE must remove the rows")
    assert(after.count() == o.count() - nP,
      "a matched-DELETEd source row must not re-enter via NOT MATCHED INSERT")
  }
}
