package graft

import graft.util.PlanNodes
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AsOf, Ngrams, SurrogateKeys}

/** Property-style tests (seeded random inputs vs brute-force reference
  * implementations) for the semantics-sensitive spots of SURVEY.md §7.4:
  * surrogate keys (D1), n-gram construction feeding the string-agg/dedup
  * paths (D2), and the as-of join's temporal contract. */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  private val rng = new scala.util.Random(0xc0ffee)

  test("sequence packing matches a sequential reference on random corpora (30 trials)") {
    import spark.implicits._
    (1 to 30).foreach { trial =>
      val n = 1 + rng.nextInt(120)
      // token counts straddle the shard boundary sizes and the capacity
      val docs = (0L until n.toLong).map(id => (id, 1L + rng.nextInt(300)))
      val dir = java.nio.file.Files.createTempDirectory(s"graft_pack_$trial").toString
      docs.map { case (id, toks) => (id, Seq.fill(toks.toInt)("w").mkString(" ")) }
        .toDF("doc_id", "text")
        .repartition(3)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // reference: greedy next-fit per shard, sequential
      val expected = docs.groupBy(_._1 / 100).flatMap { case (shard, ds) =>
        var seq = 0L; var acc = 0L
        ds.sortBy(_._1).zipWithIndex.map { case ((id, toks), i) =>
          if (i == 0) { seq = 0; acc = toks }
          else if (acc + toks > 256) { seq += 1; acc = toks }
          else acc += toks
          (id, shard, toks, seq)
        }
      }.toSet
      val got = graft.ops.CorpusOps.sequencePack(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == expected, s"trial $trial (n=$n) diverged")
    }
  }

  test("interval coverage is bin-width invariant and equals brute force (15 trials)") {
    import spark.implicits._
    (1 to 15).foreach { trial =>
      val n = 1 + rng.nextInt(60)
      val iv = (0 until n).map { _ =>
        val prio = s"g${rng.nextInt(3)}"
        val st = rng.nextInt(200).toLong
        (prio, st, st + 1 + rng.nextInt(40)) // half-open, non-empty
      }
      val df = iv.toDF("prio", "st", "en")
      // brute force: distinct covered integer points per group
      val brute = iv.groupBy(_._1).map { case (p, rows) =>
        p -> rows.flatMap { case (_, s, e) => s until e }.toSet.size.toLong
      }
      Seq(1L, 7L, 32L, 1000L).foreach { binW =>
        val got = graft.queries.TemporalOps.coverage(df, binW)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == brute,
          s"trial $trial binW=$binW: got $got expected $brute")
      }
    }
  }

  test("asofJoin matches a brute-force reference on random inputs (50 trials)") {
    import spark.implicits._
    (1 to 50).foreach { trial =>
      val nL = 1 + rng.nextInt(8)
      val nR = rng.nextInt(10)
      val keys = Array(1L, 2L, 3L)
      val left = (1 to nL).map { i =>
        (keys(rng.nextInt(3)), new Timestamp(rng.nextInt(1000).toLong * 1000), i.toLong)
      }
      val right = (1 to nR).map { i =>
        (keys(rng.nextInt(3)), new Timestamp(rng.nextInt(1000).toLong * 1000), i.toLong, s"v$i")
      }
      val lDf = left.toDF("k", "lts", "lid")
      val rDf = right.toDF("k", "rts", "rid", "rval")
      val got = AsOf.asofJoin(lDf, rDf, "k", "lts", "rts", "rid", Seq("rid", "rval"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(2)) ->
          (if (r.isNullAt(3)) None else Some((r.getLong(3), r.getString(4))))).toMap
      // brute force: latest right with rts <= lts, ties by largest rid
      left.foreach { case (k, lts, lid) =>
        val expect = right
          .filter(r => r._1 == k && !r._2.after(lts))
          .sortBy(r => (r._2.getTime, r._3))
          .lastOption.map(r => (r._3, r._4))
        assert(got((k, lid)) == expect,
          s"trial $trial key=$k lid=$lid: got ${got((k, lid))}, want $expect\nL=$left\nR=$right")
      }
    }
  }

  test("dense surrogate keys follow natural-key order for random inputs (20 trials)") {
    import spark.implicits._
    (1 to 20).foreach { _ =>
      val vals = (1 to (5 + rng.nextInt(40))).map(_ => rng.nextInt(100000)).distinct
      val df = rng.shuffle(vals).toDF("k").repartition(4)
      val out = SurrogateKeys.dense(df, "sk", col("k")).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      val sorted = vals.sorted
      sorted.zipWithIndex.foreach { case (v, i) =>
        assert(out(v) == i + 1, s"value $v should get sk ${i + 1}")
      }
    }
  }

  test("wordNgrams matches a sliding-window reference for random word lists (50 trials)") {
    import spark.implicits._
    (1 to 50).foreach { _ =>
      val n = 2 + rng.nextInt(3)
      val words = (1 to (n + rng.nextInt(20))).map(_ => s"w${rng.nextInt(8)}")
      val text = words.mkString(" ")
      val got = Seq(text).toDF("text")
        .select(Ngrams.wordNgrams(col("text"), n).as("g"))
        .head().getSeq[String](0)
      val expect = words.sliding(n).map(_.mkString(" ")).toSeq
      assert(got == expect, s"n=$n text='$text'")
    }
  }

  test("cluster label propagation equals union-find on random graphs (10 trials)") {
    import spark.implicits._
    (1 to 10).foreach { trial =>
      val nNodes = 4 + rng.nextInt(40)
      val nEdges = 1 + rng.nextInt(60)
      val edges = (1 to nEdges).map { _ =>
        val a = rng.nextInt(nNodes).toLong
        val b = rng.nextInt(nNodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val got = graft.ops.Dedup.clustersFromPairs(edges.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // local union-find reference
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        // canonical root per component = its minimum node id
        val minOf = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
        nodes.foreach { n =>
          assert(got(n) == minOf(find(n)),
            s"trial $trial node $n: got ${got(n)}, want ${minOf(find(n))}\nedges=$edges")
        }
        assert(got.size == nodes.size)
      }
    }
  }

  test("connected components converge on a 200-node path (diameter >> old 50-round cap)") {
    import spark.implicits._
    // a pure chain is the worst case for min-label propagation (rounds =
    // diameter; the r4 implementation threw at 50) — large-star/small-star
    // contracts it in O(log n) rounds
    val path = (0L until 199L).map(i => (i, i + 1))
    val got = graft.ops.Dedup.clustersFromPairs(path.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200)
    assert(got.values.forall(_ == 0L), "every node on the path joins component 0")
    // and a forest of two chains + an isolated pair keeps components apart
    val mixed = (100L until 150L).map(i => (i, i + 1)) ++
      (200L until 220L).map(i => (i, i + 1)) ++ Seq((500L, 501L))
    val got2 = graft.ops.Dedup.clustersFromPairs(mixed.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((100L to 150L).forall(got2(_) == 100L))
    assert((200L to 220L).forall(got2(_) == 200L))
    assert(got2(500L) == 500L && got2(501L) == 500L)
  }

  test("scalable surrogate keys stay contiguous under random partitioning (10 trials)") {
    import spark.implicits._
    (1 to 10).foreach { _ =>
      val nRows = 10 + rng.nextInt(200)
      val parts = 1 + rng.nextInt(8)
      val df = (1 to nRows).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(parts)
      val sks = SurrogateKeys.scalable(df, "sk").select("sk").collect().map(_.getLong(0)).sorted
      assert(sks.toSeq == (1L to nRows).toSeq)
    }
  }

  test("twap matches sequential time-weighted integration on random event sets (10 trials)") {
    import spark.implicits._
    val rng = new scala.util.Random(0x7ea9)
    val base = 1704067200L // 2024-01-01T00:00:00Z seconds
    (1 to 10).foreach { trial =>
      var eid = 0L
      val events = (0 until 3 + rng.nextInt(5)).flatMap { u =>
        (0 until 1 + rng.nextInt(8)).map { _ =>
          eid += 1
          // distinct whole seconds; values with two decimals
          (eid, (base + rng.nextInt(100000)) * 1000000000L, u.toLong, "t",
            rng.nextInt(50000) / 100.0, "{}")
        }
      }
      val dir = s"/tmp/graft_twap_prop/t$trial"
      events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(4).write.mode("overwrite").parquet(s"$dir/events.parquet")
      // sequential reference: sort by (sec, event_id), integrate v*dur
      val expected = events.groupBy(_._3).map { case (u, es) =>
        val sorted = es.map(e => (e._2 / 1000000000L, e._1, math.floor(e._5 * 1e6).toLong))
          .sortBy(e => (e._1, e._2))
        val durs = sorted.zip(sorted.drop(1)).map { case ((s1, _, v), (s2, _, _)) =>
          (v, s2 - s1) }
        val den = durs.map(_._2).sum
        val num = durs.map { case (v, d) => v * d }.sum
        u -> ((es.size.toLong, den, num,
          if (den > 0) Some(num.toDouble / den.toDouble / 1e6) else None))
      }
      val got = graft.queries.TemporalOps.twapPerUser(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
      expected.foreach { case (u, (n, den, num, tw)) =>
        val (gn, gden, gnum, gtw) = got(u)
        assert(gn === n && gden === den && gnum === num, s"trial $trial user $u")
        (tw, gtw) match {
          case (Some(a), Some(b)) => assert(a === b, s"trial $trial user $u twap")
          case (None, None)       =>
          case other              => fail(s"trial $trial user $u: $other")
        }
      }
    }
  }

  test("ring shard assignment matches a sequential argmin over the ring (whole fixture)") {
    // recompute each document's ring-16 assignment sequentially and compare
    // movement counts with the query's hashed output
    def u60(str: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(str.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString.take(15), 16)
    val MOD = 1L << 60
    def ring(n: Int): Seq[Long] =
      for { sh <- 0 until n; v <- 0 until 32 }
        yield (u60(s"ring:$sh:$v") / 32) * 32 + sh
    def asg(ringPts: Seq[Long], h: Long): Long = {
      val d = ringPts.map(p => (p - h + MOD) % MOD).min
      ((h + d) % MOD) % 32
    }
    val (r16, r17) = (ring(16), ring(17))
    val ids = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0))
    val moved = ids.count { id =>
      val h = u60(s"shard:$id")
      asg(r16, h) != asg(r17, h)
    }
    val row = graft.queries.ScaleOps.shardRebalance(spark, sf).head()
    assert(row.getAs[Long]("moved_ring") === moved.toLong)
    assert(row.getAs[Long]("n_docs") === ids.length.toLong)
  }

  test("pit join plans as a hash join, not a nested loop") {
    val plan = graft.queries.ChangeOps.pitJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval predicate must ride the equi-join:\n${plan.take(1500)}")
  }

  test("pit join broadcasts the DIMENSION history, never the fact") {
    // r6 verdict: the planner once picked BuildLeft (events — the 100 TB
    // side) because it sampled smaller at sf0.01. The broadcast(hist)
    // hint pins the scale-safe shape; this spec fails if it regresses.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    // PlanNodes.flatten: the join may sit inside an AQE query stage,
    // which plain plan.collect never descends into
    val df = graft.queries.ChangeOps.pitJoin(spark, sf)
    val bhj = PlanNodes.executedNodes(df)
      .collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty,
      s"expected a BroadcastHashJoin:\n${df.queryExecution.executedPlan.toString.take(1500)}")
    def buildCols(j: BroadcastHashJoinExec): Set[String] = {
      val buildSide = j.buildSide match {
        case BuildLeft  => j.left
        case BuildRight => j.right
      }
      buildSide.output.map(_.name).toSet
    }
    // flatten also surfaces joins nested inside scd2History's own build;
    // the contract is (a) the history⋈events join builds on the HISTORY
    // (valid_from on the build side) and (b) no join anywhere builds on
    // the 100 TB events side
    assert(bhj.exists(j => buildCols(j).contains("valid_from")),
      s"the SCD2 history must be the broadcast build side; got ${bhj.map(buildCols)}")
    bhj.foreach { j =>
      assert(!buildCols(j).contains("event_id"),
        s"a join built on the events (fact) side: ${buildCols(j)}")
    }
  }
}
