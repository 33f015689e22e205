package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Operator laws under generated inputs (SURVEY §5): properties the
  * reference relies on implicitly — repartition is a pure multiset
  * reshuffle (pyspark-taxi-trip.py:51 assumes it), set ops obey algebra,
  * dedup is idempotent.
  *
  * Uses raw ScalaCheck Gen with fixed seeds (the scalatest bridge
  * artifact isn't in the offline cache) — deterministic across runs.
  */
class OperatorPropsSpec extends SparkTestBase {

  private val listGen: Gen[List[Long]] =
    Gen.listOfN(60, Gen.chooseNum(-1000L, 1000L))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("repartition(n) preserves the exact multiset") {
    import spark.implicits._
    samples(Gen.zip(listGen, Gen.chooseNum(1, 7)), 8).foreach { case (xs, n) =>
      val df = xs.toDF("v")
      val back = df.repartition(n).collect().map(_.getLong(0)).toSeq
      assert(back.sorted === xs.sorted, s"multiset changed for n=$n")
      assert(df.repartition(n).rdd.getNumPartitions === n)
    }
  }

  test("(a union b) except b is a subset of distinct a") {
    import spark.implicits._
    samples(Gen.zip(listGen, listGen), 8).foreach { case (a, b) =>
      val da = a.toDF("v"); val db = b.toDF("v")
      val out = da.union(db).except(db).collect().map(_.getLong(0)).toSet
      assert(out.subsetOf(a.toSet))
      assert(out.intersect(b.toSet).isEmpty)
    }
  }

  test("dropDuplicates is idempotent and keeps one row per key") {
    import spark.implicits._
    samples(listGen, 8).foreach { a =>
      val df = a.toDF("v")
      val once = df.dropDuplicates("v")
      assert(once.count() === a.distinct.length.toLong)
      assert(once.dropDuplicates("v").count() === once.count())
    }
  }

  test("TopK: any reduce/merge order equals sort-desc-take-k") {
    import graft.functions.TopK
    val dGen = Gen.listOfN(40, Gen.chooseNum(-1e6, 1e6))
    samples(Gen.zip(dGen, Gen.chooseNum(1, 6)), 12).foreach { case (xs, k) =>
      val agg = TopK(k)
      val expected = xs.sorted(Ordering[Double].reverse).take(k)
      // Straight left fold.
      val folded = xs.foldLeft(agg.zero)(agg.reduce)
      assert(folded.toList === expected)
      // Random partition split + pairwise merges (map-side combine shape).
      val parts = xs.grouped(7).map(p => p.foldLeft(agg.zero)(agg.reduce)).toList
      val merged = parts.foldLeft(agg.zero)(agg.merge)
      assert(merged.toList === expected)
      // Merge is insensitive to argument order.
      val mergedRev = parts.reverse.foldLeft(agg.zero)(agg.merge)
      assert(mergedRev.toList === expected)
    }
    // NaN ranks ABOVE everything (total order), matching Spark's sort
    // and DuckDB list_sort DESC — IEEE > would silently drop it.
    val agg2 = TopK(2)
    val withNaN = List(5.0, Double.NaN, 3.0).foldLeft(agg2.zero)(agg2.reduce)
    assert(withNaN.head.isNaN && withNaN(1) === 5.0)
  }

  test("bucketSums: spans partition the payload exactly for any bucket count") {
    import graft.multimodal.MediaPipeline
    val bytesGen = Gen.listOfN(50, Gen.chooseNum(-128, 127)).map(_.map(_.toByte).toArray)
    samples(Gen.zip(bytesGen, Gen.chooseNum(1, 12)), 10).foreach { case (m, k) =>
      val sums = MediaPipeline.bucketSums(m, k)
      assert(sums.length === k)
      assert(sums.sum === m.map(_ & 0xff).map(_.toLong).sum,
        "span sums must total the unsigned byte sum")
    }
  }

  test("CollectCapped: exact below cap under any partitioning, cap+1 above") {
    import org.apache.spark.sql.functions.{col, size, sort_array, collect_list}
    import graft.functions.CollectCapped.collectCapped
    import spark.implicits._
    samples(Gen.zip(Gen.chooseNum(1, 30), Gen.chooseNum(2, 12)), 8).foreach { case (n, cap) =>
      val df = (1 to n).map(i => ("g", i.toLong)).toDF("k", "v").repartition(5)
      val capped = df.groupBy("k")
        .agg(sort_array(collectCapped(col("v"), cap)).as("xs")).head.getSeq[Long](1)
      if (n <= cap) {
        // No truncation can occur at any stage: exact collect_list multiset.
        val full = df.groupBy("k")
          .agg(sort_array(collect_list(col("v"))).as("xs")).head.getSeq[Long](1)
        assert(capped === full)
      } else {
        // Oversized groups surface as exactly cap+1 — the drop signal.
        assert(capped.length === cap + 1)
        assert(capped.toSet.subsetOf((1 to n).map(_.toLong).toSet))
      }
    }
  }

  test("ArrayMd5 equals the transform+md5 formulation byte-for-byte") {
    import org.apache.spark.sql.functions.{col, expr, lit}
    import spark.implicits._
    val strGen = Gen.listOfN(15,
      Gen.oneOf(Gen.alphaNumStr.map(_.take(12)), Gen.const(""), Gen.const("a b:c")))
    samples(strGen, 6).foreach { xs =>
      val df = Seq(Tuple1(xs)).toDF("s")
      val fast = df.select(
        graft.functions.ArrayMd5.arrayMd5(col("s"), lit(":7")).as("h")).head.getSeq[String](0)
      val ref = df.select(
        expr("transform(s, x -> md5(concat(x, ':7')))").as("h")).head.getSeq[String](0)
      assert(fast === ref)
    }
    // Null elements pass through as null elements; null array -> null.
    val dfN = Seq(Tuple1(Seq[String]("x", null))).toDF("s")
    val outN = dfN.select(
      graft.functions.ArrayMd5.arrayMd5(col("s"), lit("")).as("h")).head.getSeq[String](0)
    assert(outN(1) == null && outN(0) != null)
  }

  test("minLabel equals a reference union-find on random graphs") {
    import spark.implicits._
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
        .map(_.filter { case (a, b) => a != b })
        .suchThat(_.nonEmpty)
    samples(edgeGen, 6).foreach { edges =>
      // Reference: in-memory union-find, min id as representative.
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val keep = math.min(ra, rb); parent(math.max(ra, rb)) = keep }
      }
      val expected = parent.keys.map(v => v -> find(v)).toMap
      val got = graft.Frames.scoped(f =>
          graft.queries.GraphOps.minLabel(f, edges.toDF("src", "dst")).collect())
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
    }
  }

  test("quantization error is within half a step for any vector (q68's gate)") {
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-100.0, 100.0)).suchThat(_.nonEmpty)
    samples(vecGen, 10).foreach { xs =>
      val mn = xs.min; val rng = xs.max - mn
      val q = xs.map(x => if (rng == 0.0) 0L else math.round((x - mn) * 255.0 / rng))
      val err = xs.zip(q).map { case (x, qi) =>
        math.abs(x - (mn + qi * rng / 255.0)) }.max
      assert(err <= rng / 255.0 * 0.5000001 + 1e-12,
        s"reconstruction error $err exceeds half a quantization step")
      assert(q.forall(v => v >= 0L && v <= 255L), "quantized value out of int8 range")
    }
  }

  test("Sessionize.onUser: splitting a batch at an ordered point changes nothing") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.streaming.Sessionize
    import graft.queries.Extras.SessionGapUs
    val tsGen = Gen.listOfN(25, Gen.chooseNum(0L, 6L * SessionGapUs))
    samples(Gen.zip(tsGen, Gen.chooseNum(1, 24)), 10).foreach { case (tsRaw, cut) =>
      val ts = tsRaw.sorted
      def run(batches: List[List[Long]]): (List[Sessionize.Session], Option[Sessionize.OpenSession]) = {
        var state: Option[Sessionize.OpenSession] = None
        val closed = List.newBuilder[Sessionize.Session]
        batches.filter(_.nonEmpty).foreach { b =>
          val gs = TestGroupState.create[Sessionize.OpenSession](
            state.map(Optional.of[Sessionize.OpenSession])
              .getOrElse(Optional.empty[Sessionize.OpenSession]()),
            GroupStateTimeout.EventTimeTimeout, 0L,
            Optional.of(java.lang.Long.valueOf(0L)), hasTimedOut = false)
          closed ++= Sessionize.onUser(1L, b.iterator.map(t => (1L, t, 1.0)), gs)
          state = if (gs.exists) Some(gs.get) else None
        }
        (closed.result(), state)
      }
      val whole = run(List(ts))
      val split = run(List(ts.take(cut), ts.drop(cut)))
      assert(split === whole, s"split at $cut diverged")
    }
  }

  test("ZOrder.interleave is a bijection on 16-bit pairs and bounds its range") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pairGen = Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L))
    val pairs = samples(pairGen, 300).distinct
    val out = pairs.toDF("a", "b")
      .select(graft.operators.ZOrder.interleave(col("a"), col("b")).as("z"),
        col("a"), col("b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Distinct inputs → distinct keys (no bit collisions), range < 2^32.
    assert(out.map(_._1).distinct.length === pairs.length)
    assert(out.forall { case (z, _, _) => z >= 0L && z < (1L << 32) })
    // Even bits recover a, odd bits recover b (the interleave contract).
    def unspread(z: Long): Long =
      (0 until 16).map(i => ((z >> (2 * i)) & 1L) << i).sum
    assert(out.forall { case (z, a, b) => unspread(z) == a && unspread(z >> 1) == b })
  }

  test("StableIds: ids are dense 0..N-1 and follow the sort order, any partition count") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    samples(Gen.zip(listGen, Gen.chooseNum(1, 7)), 6).foreach { case (xs, n) =>
      // Duplicate keys allowed: tiebreak on a unique index column.
      val df = xs.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toDF("v", "idx")
      val out = graft.operators.StableIds
        .withGlobalRowIds(df, n, col("v"), col("idx"))
        .collect().map(r => (r.getAs[Long]("row_id"), r.getAs[Long]("v"), r.getAs[Long]("idx")))
        .sortBy(_._1)
      assert(out.map(_._1).toSeq === (0L until xs.length.toLong), s"ids not dense for n=$n")
      val expected = xs.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .sortBy(identity).map { case (v, i) => (v, i) }
      assert(out.map(t => (t._2, t._3)).toSeq === expected,
        s"id order diverges from sort order for n=$n")
    }
  }

  test("StableIds: ids are invariant to input partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val xs = samples(listGen, 1).head
    val df = xs.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toDF("v", "idx")
    def ids(parts: Int) = graft.operators.StableIds
      .withGlobalRowIds(df.repartition(parts), 4, col("v"), col("idx"))
      .collect().map(r => (r.getAs[Long]("idx"), r.getAs[Long]("row_id"))).sorted.toSeq
    assert(ids(1) === ids(5), "row ids changed with input partitioning")
  }

  test("table digest (q210 scheme) is invariant to row order and partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val xs = samples(listGen, 1).head.distinct
    def digest(df: org.apache.spark.sql.DataFrame): Long =
      df.select(conv(substring(md5(col("v").cast("string").cast("binary")), 1, 8), 16, 10)
          .cast("long").as("h32"))
        .agg(sum($"h32")).head().getLong(0)
    val a = digest(xs.toDF("v").repartition(7))
    val b = digest(scala.util.Random.shuffle(xs).toDF("v").coalesce(1))
    assert(a === b, "digest depends on order/partitioning")
  }

  test("interval sweep islands (q254's algorithm) equal the reference merge") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // Dense small domain forces duplicates, touching endpoints, and
    // fully-nested intervals — the tie cases the running-max sweep must
    // get right.
    val ivGen = Gen.listOfN(40, Gen.zip(Gen.chooseNum(0, 50), Gen.chooseNum(0, 10)))
    samples(ivGen, 6).foreach { raw =>
      val ivs = raw.map { case (s0, len) => (s0, s0 + len) }
      val w = Window.orderBy($"s", $"e")
      val prevMax = max($"e").over(w.rowsBetween(Window.unboundedPreceding, -1))
      val islands = ivs.toDF("s", "e")
        .withColumn("opens", when(prevMax.isNull || $"s" > prevMax, 1).otherwise(0))
        .withColumn("isl", sum($"opens").over(w))
        .groupBy($"isl").agg(min($"s").as("a"), max($"e").as("b"))
        .collect().map(r => (r.getInt(1), r.getInt(2))).sorted.toList
      val ref = ivs.sorted.foldLeft(List.empty[(Int, Int)]) {
        case ((a, b) :: t, (s, e)) if s <= b => (a, math.max(b, e)) :: t
        case (acc, iv) => iv :: acc
      }.reverse
      assert(islands === ref, s"islands diverged for $ivs")
    }
  }

  test("skyline sweep (q255's algorithm) equals the quadratic dominance definition") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // 9×9 integer grid → heavy ties on both axes and duplicate points.
    val ptGen = Gen.listOfN(30, Gen.zip(Gen.chooseNum(0, 8), Gen.chooseNum(0, 8)))
    samples(ptGen, 8).foreach { pts =>
      val distinctPts = pts.distinct
      val w = Window.orderBy($"bal".desc, $"spend".desc)
      val mprev = max($"spend").over(w.rowsBetween(Window.unboundedPreceding, -1))
      val sky = distinctPts.toDF("bal", "spend")
        .withColumn("sky", mprev.isNull || $"spend" > mprev)
        .filter($"sky").select($"bal", $"spend")
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      val ref = distinctPts.filter { case (a, s) =>
        !distinctPts.exists { case (qa, qs) =>
          qa >= a && qs >= s && (qa > a || qs > s)
        }
      }.toSet
      assert(sky === ref, s"skyline diverged for $pts")
    }
  }

  test("q296 prefix filter equals brute-force shingle-Jaccard ≥ 0.6 (no miss, no extra)") {
    // The PPJoin prefix lemma says the candidate join cannot miss a
    // qualifying pair; exact verification then kills false positives —
    // so the whole pipeline must EQUAL the quadratic reference.
    // split(..., -1) mirrors Spark's split (keeps trailing empties).
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map { r =>
        val t = r.getString(1).toLowerCase.split("\\s+", -1)
        r.getLong(0) ->
          (if (t.length < 3) Set.empty[String]
           else (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet)
      }
      .filter(_._2.nonEmpty)
      .sortBy(_._1)
    val brute = (for {
      i <- docs.indices.iterator
      j <- (i + 1) until docs.length
      (ida, ta) = docs(i); (idb, tb) = docs(j)
      inter = (ta & tb).size.toLong
      uni = ta.size + tb.size - inter
      if inter * 1000000L / uni >= 600000L
    } yield (ida, idb)).toSet
    val got = SparkEntry.queries("q296_prefix_filter_simjoin")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute,
      s"missed=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(brute.nonEmpty, "degenerate fixture: brute force found no pairs")
  }

  test("q298 grouped-rank AUC equals brute-force pairwise AUC") {
    // The Mann-Whitney identity: AUC = P(score_pos > score_neg) +
    // ½·P(tie). The query computes it from grouped tie-rank algebra;
    // the reference counts every (pos, neg) pair directly.
    val rows = Tables.lineitem(spark, sf)
      .select("l_linestatus", "l_discount", "l_returnflag").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100), r.getString(2) == "R"))
    val got = SparkEntry.queries("q298_auc_mann_whitney")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    rows.groupBy(_._1).foreach { case (ls, grp) =>
      val pos = grp.filter(_._3).map(_._2)
      val neg = grp.filterNot(_._3).map(_._2)
      val num2 = (for { p <- pos.iterator; n <- neg } yield
        if (p > n) 2L else if (p == n) 1L else 0L).sum
      val (gotNum, gotDen) = got(ls)
      assert(gotDen === 2L * pos.length * neg.length, s"$ls: denominator")
      assert(gotNum === num2, s"$ls: rank AUC ${gotNum} != pairwise ${num2}")
    }
  }

  test("q322 histogram-closed-form Gini equals the sorted-rank definition") {
    // Reference: collect per-key counts, sort ascending, apply the
    // textbook G = (2Σi·cᵢ − (n+1)Σc)/(nΣc) with explicit ranks; the
    // query must reproduce it from the count-value histogram without
    // ever ranking the keys.
    for ((tag, df) <- Seq(
        "lineitem.l_partkey" -> Tables.lineitem(spark, sf).groupBy("l_partkey").count(),
        "orders.o_custkey" -> Tables.orders(spark, sf).groupBy("o_custkey").count())) {
      val counts = df.collect().map(_.getLong(1)).sorted
      val n = counts.length.toLong
      val tot = counts.sum
      val sr = counts.zipWithIndex.map { case (c, i) => (i + 1) * c }.sum
      val expNum = 2 * sr - (n + 1) * tot
      val row = SparkEntry.queries("q322_key_skew_gini")(spark, sf)
        .collect().find(_.getString(0) == tag).get
      assert(row.getLong(1) === n, s"$tag n_keys")
      assert(row.getLong(2) === tot, s"$tag n_rows")
      assert(row.getLong(3) === expNum, s"$tag gini_num")
      assert(row.getLong(4) === n * tot, s"$tag gini_den")
    }
  }

  test("q327 water-filling invariants: budget conserved, max-min fair") {
    val rows = SparkEntry.queries("q327_maxmin_fairshare")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val demands = rows.map(_._2).sum
    val allocs = rows.map(_._3).sum
    assert(allocs === demands / 2, "allocations must sum exactly to the budget")
    rows.foreach { case (src, demand, alloc, capped) =>
      assert(alloc <= demand, s"$src allocated beyond demand")
      if (!capped) assert(alloc === demand, s"uncapped $src not fully served")
    }
    val cappedAllocs = rows.filter(_._4).map(_._3)
    if (cappedAllocs.nonEmpty) {
      assert(cappedAllocs.max - cappedAllocs.min <= 1,
        "capped sources must sit within 1 unit of one water level")
      val uncappedMax = rows.filterNot(_._4).map(_._3).foldLeft(0L)(math.max)
      assert(uncappedMax <= cappedAllocs.max,
        "an uncapped source exceeds the water level — not max-min fair")
    }
  }

  test("portable HLL estimates land within loose m=16 error bounds of exact") {
    // m=16 → rsd ≈ 26%; assert a generous 3σ-ish factor so the test pins
    // "the estimator works" without flaking on the fixture.
    val alg = SparkEntry.queries("q332_hll_set_algebra")(spark, sf).head()
    for ((est, exact, tag) <- Seq(
        (alg.getLong(0), alg.getLong(4), "A"),
        (alg.getLong(1), alg.getLong(5), "B"),
        (alg.getLong(2), alg.getLong(6), "union"))) {
      val ratio = est.toDouble / 1000.0 / exact.toDouble
      assert(ratio > 0.4 && ratio < 2.5, s"$tag: est_milli=$est vs exact=$exact")
    }
  }

  test("q301 ray-cast matches an independent winding-style containment check") {
    // Reference: per point, recompute containment with the half-open
    // edge rule written scalar-side (same integer arithmetic, separate
    // code path), then compare the per-nation rollup.
    val verts = Seq((-150000L, 0L), (-50000L, 60000L), (0L, 20000L),
      (100000L, 60000L), (150000L, -40000L), (-20000L, -70000L))
    val edges = (verts :+ verts.head).sliding(2).map(s => (s(0), s(1))).toSeq
    def inside(px: Long, py: Long): Boolean = edges.count { case ((x1, y1), (x2, y2)) =>
      val straddles = (y1 > py) != (y2 > py)
      straddles && {
        val lhs = (px - x1) * (y2 - y1); val rhs = (py - y1) * (x2 - x1)
        if (y2 > y1) lhs < rhs else lhs > rhs
      }
    } % 2 == 1
    val exp = Tables.customer(spark, sf).select("c_custkey", "c_nationkey").collect()
      .map { r =>
        val k = r.getLong(0)
        val px = (k * 104729L) % 360001L - 180000L
        val py = (k * 7919L) % 180001L - 90000L
        (r.getInt(1), inside(px, py), k)
      }
    val expByNat = exp.groupBy(_._1).map { case (nat, g) =>
      nat -> (g.length.toLong, g.count(_._2).toLong, g.filter(_._2).map(_._3).sum)
    }
    val gotByNat = SparkEntry.queries("q301_point_in_polygon")(spark, sf)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(gotByNat === expByNat)
    assert(exp.count(_._2) > 0, "degenerate: fence contains no points at sf0.001")
  }
}
