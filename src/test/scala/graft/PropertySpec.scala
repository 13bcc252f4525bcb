package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Upsert

/** Property-based checks (SURVEY.md §5.4): upsert algebra and explode
  * conservation over generated inputs, deterministic seeds.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = Gen.Parameters.default

  private def rows(seed: Long, n: Int): List[(Int, Int)] =
    Gen.listOfN(n, Gen.zip(Gen.choose(0, 20), Gen.choose(0, 1000)))
      .pureApply(params, Seed(seed)).map { case (k, v) => (k, v) }

  test("upsert idempotence: merge(merge(b,d),d) == merge(b,d) for random frames") {
    for (seed <- 1L to 8L) {
      val base = rows(seed, 30).toDF("k", "v").groupBy("k").agg(max("v").as("v"))
      def delta = rows(seed + 100, 15).toDF("k", "v").groupBy("k").agg(max("v").as("v"))
      // NOTE: re-applying the same DATA, via a fresh frame — reusing one
      // DataFrame object on both sides of its own merge output trips a
      // Spark attribute-resolution internal error (lineage self-reference)
      val once = Upsert.merge(base, delta, Seq("k"))
      val twice = Upsert.merge(once, delta, Seq("k"))
      assert(twice.exceptAll(once).count() === 0 && once.exceptAll(twice).count() === 0,
        s"seed=$seed not idempotent")
    }
  }

  test("upsert commutativity for key-disjoint deltas") {
    for (seed <- 1L to 8L) {
      val base = rows(seed, 30).toDF("k", "v").groupBy("k").agg(max("v").as("v"))
      def d1 = rows(seed + 200, 12).map { case (k, v) => (k * 2, v) }      // even keys
        .toDF("k", "v").groupBy("k").agg(max("v").as("v"))
      def d2 = rows(seed + 300, 12).map { case (k, v) => (k * 2 + 1, v) } // odd keys
        .toDF("k", "v").groupBy("k").agg(max("v").as("v"))
      val ab = Upsert.merge(Upsert.merge(base, d1, Seq("k")), d2, Seq("k"))
      val ba = Upsert.merge(Upsert.merge(base, d2, Seq("k")), d1, Seq("k"))
      assert(ab.exceptAll(ba).count() === 0 && ba.exceptAll(ab).count() === 0,
        s"seed=$seed not commutative for disjoint deltas")
    }
  }

  test("merged table is always key-unique and delta values win") {
    for (seed <- 1L to 8L) {
      val base = rows(seed, 40).toDF("k", "v").groupBy("k").agg(max("v").as("v"))
      def delta = rows(seed + 400, 20).toDF("k", "v").groupBy("k").agg(max("v").as("v"))
      val merged = Upsert.merge(base, delta, Seq("k"))
      assert(merged.groupBy("k").count().filter($"count" > 1).count() === 0)
      val deltaMap = delta.as[(Int, Int)].collect().toMap
      val got = merged.as[(Int, Int)].collect().toMap
      deltaMap.foreach { case (k, v) => assert(got(k) === v, s"seed=$seed delta must win on $k") }
    }
  }

  test("merge/mergeEvolve without distinct == the distinct-key form; NULL keys never match") {
    def keyed(seed: Long, n: Int): List[(Option[Int], Option[String], Int)] =
      Gen.listOfN(n, Gen.zip(
        Gen.option(Gen.choose(0, 4)), Gen.option(Gen.oneOf("a", "b")), Gen.choose(0, 1000)))
        .pureApply(params, Seed(seed))
    val keys = Seq("k1", "k2")
    for (seed <- 1L to 8L) {
      val baseRows = keyed(seed, 30)
      val deltaRows = keyed(seed + 500, 15) // NULL key parts and repeated keys
      val base = baseRows.toDF("k1", "k2", "v")
      val delta = deltaRows.toDF("k1", "k2", "v")
      // the form with a distinct key side
      val want = delta.unionByName(
        base.join(delta.select(keys.map(col): _*).distinct(), keys, "left_anti"))
      val got = Upsert.merge(base, delta, keys)
      assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
        s"seed=$seed merge diverges from the distinct-key form")
      // the same rows from first principles: every delta row, plus every
      // base row whose key is not a delta key — a NULL part never matches
      val deltaKeys = deltaRows.collect { case (Some(a), Some(b), _) => (a, b) }.toSet
      val kept = baseRows.filter {
        case (Some(a), Some(b), _) => !deltaKeys((a, b))
        case _ => true
      }
      val expected = (deltaRows ++ kept).sortBy(_.toString)
      assert(got.as[(Option[Int], Option[String], Int)].collect().toList.sortBy(_.toString) === expected, s"seed=$seed")

      val wider = delta.withColumn("extra", $"v" + 1)
      val wantEvolve = wider.unionByName(
        base.join(wider.select(keys.map(col): _*).distinct(), keys, "left_anti"),
        allowMissingColumns = true)
      val gotEvolve = Upsert.mergeEvolve(base, wider, keys)
      assert(gotEvolve.exceptAll(wantEvolve).count() === 0 &&
        wantEvolve.exceptAll(gotEvolve).count() === 0,
        s"seed=$seed mergeEvolve diverges from the distinct-key form")
    }
  }

  test("explode conserves rows: output count == sum of array sizes") {
    for (seed <- 1L to 8L) {
      val arrays = Gen.listOfN(25, Gen.listOf(Gen.alphaStr))
        .pureApply(params, Seed(seed))
      val df = arrays.zipWithIndex.map { case (a, i) => (i, a) }.toDF("id", "arr")
      val expected = arrays.map(_.size).sum
      assert(df.select(explode($"arr")).count() === expected)
      // explode_outer preserves empty-array parents as null rows
      assert(df.select(explode_outer($"arr")).count() ===
        expected + arrays.count(_.isEmpty))
    }
  }

  test("overlapping-window reprocessing == single full-window processing") {
    for (seed <- 1L to 5L) {
      val data = rows(seed, 50).zipWithIndex
        .map { case ((k, v), i) => (i, k, v) }.toDF("id", "k", "v")
      val full = Upsert.merge(data.limit(0), data, Seq("id"))
      // two overlapping halves upserted sequentially
      val w1 = data.filter($"id" < 35)
      val w2 = data.filter($"id" >= 20)
      val stepped = Upsert.merge(Upsert.merge(data.limit(0), w1, Seq("id")), w2, Seq("id"))
      assert(stepped.exceptAll(full).count() === 0 && full.exceptAll(stepped).count() === 0)
    }
  }

  test("connected components == union-find reference on random graphs") {
    // in-memory union-find as the independent oracle
    def unionFind(nodes: Set[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n).toSeq: _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      nodes.map(n => n -> find(n)).toMap
    }
    for (seed <- 1L to 6L) {
      val edges = Gen.listOfN(25, Gen.zip(Gen.choose(0L, 18L), Gen.choose(0L, 18L)))
        .pureApply(params, Seed(seed))
        .filter { case (a, b) => a != b }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val expected = unionFind(nodes, edges)
      val got = graft.operators.Components
        .connectedComponents(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"seed=$seed: CC disagrees with union-find")
      val stage = java.nio.file.Files.createTempDirectory(s"cc-jump-$seed").toString
      val jumped = graft.operators.Components
        .connectedComponentsJump(edges.toDF("a", "b"), stage)
        .as[(Long, Long)].collect().toMap
      assert(jumped === expected, s"seed=$seed: pointer-jump CC disagrees with union-find")
    }
  }

  test("SCD2: incremental applyDelta equals one-shot history for random logs and splits") {
    import graft.operators.Scd2
    val key = Seq("id"); val order = Seq("t", "seq"); val attrs = Seq("st")
    for (seed <- 1L to 6L) {
      // random change log: few keys, few states → plenty of collapses
      val raw = Gen.listOfN(40, Gen.zip(Gen.choose(1, 5), Gen.choose(0, 99), Gen.choose(0, 3)))
        .pureApply(params, Seed(seed))
        .zipWithIndex
        .map { case ((id, t, st), i) => (id.toLong, t.toLong, i.toLong, s"S$st") }
      val log = raw.toDF("id", "t", "seq", "st")
      val oneShot = Scd2.fromChangeLog(log, key, order, attrs, "t")
      // split into three forward-only batches by time
      val cut1 = 33L; val cut2 = 66L
      val incr = Scd2.applyDelta(
        Scd2.applyDelta(
          Scd2.fromChangeLog(log.filter(col("t") < cut1), key, order, attrs, "t"),
          log.filter(col("t") >= cut1 && col("t") < cut2), key, order, attrs, "t"),
        log.filter(col("t") >= cut2), key, order, attrs, "t")
      assert(incr.exceptAll(oneShot).count() === 0 && oneShot.exceptAll(incr).count() === 0,
        s"seed=$seed: incremental SCD2 diverges from one-shot rebuild")
    }
  }

  test("range join equals the nested-loop join for random points/intervals/widths") {
    import graft.operators.RangeJoin
    for (seed <- 1L to 6L) {
      val pts = Gen.listOfN(60, Gen.choose(-50.0, 50.0)).pureApply(params, Seed(seed))
        .zipWithIndex.map { case (v, i) => (i.toLong, math.rint(v * 4) / 4) }
        .toDF("pid", "v")
      val ivs = Gen.listOfN(25, Gen.zip(Gen.choose(-50.0, 50.0), Gen.choose(0.0, 30.0)))
        .pureApply(params, Seed(seed + 50))
        .zipWithIndex.map { case ((lo, span), i) =>
          (i.toLong, math.rint(lo * 4) / 4, math.rint((lo + span) * 4) / 4) }
        .toDF("iid", "lo", "hi")
      val width = Seq(0.25, 1.0, 7.5)(seed.toInt % 3)
      val got = RangeJoin.pointInInterval(pts, "v", ivs, "lo", "hi", width)
        .select("pid", "iid")
      val want = pts.crossJoin(ivs)
        .filter(col("v") >= col("lo") && col("v") <= col("hi"))
        .select("pid", "iid")
      assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
        s"seed=$seed width=$width: binned range join diverges from nested loop")
    }
  }

  test("range-join RULE: rewritten plan equals the naive join for random longs/widths") {
    import graft.plans.RangeJoinRule
    for (seed <- 1L to 6L) {
      val pts = Gen.listOfN(60, Gen.choose(-5000L, 5000L)).pureApply(params, Seed(seed))
        .zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("pid", "v")
      val ivs = Gen.listOfN(25, Gen.zip(Gen.choose(-5000L, 5000L), Gen.choose(0L, 3000L)))
        .pureApply(params, Seed(seed + 50))
        .zipWithIndex.map { case ((lo, span), i) => (i.toLong, lo, lo + span) }
        .toDF("iid", "lo", "hi")
      val width = Seq(7L, 100L, 1024L)(seed.toInt % 3)
      val want = pts.join(ivs, col("v") >= col("lo") && col("v") <= col("hi"))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      RangeJoinRule.enable(spark, width)
      val got = try {
        pts.join(ivs, col("v") >= col("lo") && col("v") <= col("hi"))
          .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      } finally RangeJoinRule.disable(spark)
      assert(got.toSeq === want.toSeq,
        s"seed=$seed width=$width: rule-rewritten join diverges from naive join")
    }
  }

  test("interval overlap join: exactly one output row per overlapping pair, any width") {
    import graft.operators.RangeJoin
    for (seed <- 1L to 6L) {
      def mk(off: Long, n: Int, pre: String) =
        Gen.listOfN(n, Gen.zip(Gen.choose(-40.0, 40.0), Gen.choose(0.0, 25.0)))
          .pureApply(params, Seed(seed + off)).zipWithIndex
          .map { case ((lo, span), i) => (i.toLong, math.rint(lo * 2) / 2, math.rint((lo + span) * 2) / 2) }
      val a = mk(0, 30, "a").toDF("aid", "alo", "ahi")
      val b = mk(70, 20, "b").toDF("bid", "blo", "bhi")
      val width = Seq(0.5, 3.0, 11.0)(seed.toInt % 3)
      val got = RangeJoin.intervalOverlap(a, "alo", "ahi", b, "blo", "bhi", width)
        .select("aid", "bid")
      val want = a.crossJoin(b)
        .filter(col("alo") <= col("bhi") && col("blo") <= col("ahi"))
        .select("aid", "bid")
      // exceptAll is multiset difference: proves no pair is missing AND
      // none is duplicated by multi-bin collisions
      assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
        s"seed=$seed width=$width: interval overlap diverges from nested loop")
    }
  }

  test("edit-distance join equals the nested loop under the same candidate rule") {
    import graft.operators.FuzzyJoin
    val vocab = Vector("alpha", "alpina", "alphas", "beta", "betta", "gamma",
      "gamba", "delta", "delts", "omega")
    for (seed <- 1L to 6L) {
      def mk(off: Long, n: Int) =
        Gen.listOfN(n, Gen.zip(Gen.choose(0, vocab.size - 1), Gen.choose(0, vocab.size - 1)))
          .pureApply(params, Seed(seed + off)).zipWithIndex
          .map { case ((i, j), id) => (id.toLong, vocab(i) + " " + vocab(j)) }
      val a = mk(0, 8).toDF("ka", "ta")
      val b = mk(50, 25).map { case (k, t) => (k + 1000, t) }.toDF("kb", "tb")
      val got = FuzzyJoin.editDistanceJoin(a, "ka", "ta", b, "kb", "tb",
        n = 3, minShared = 3, maxDist = 4).select("ka", "kb", "dist")
      // nested-loop truth with the IDENTICAL candidate semantics (shared
      // distinct 3-grams >= 3) — proves the inverted index loses nothing
      val want = a.crossJoin(b)
        .withColumn("shared", size(array_intersect(
          expr("array_distinct(transform(sequence(1, greatest(length(ta) - 2, 0)), i -> substring(ta, i, 3)))"),
          expr("array_distinct(transform(sequence(1, greatest(length(tb) - 2, 0)), i -> substring(tb, i, 3)))"))))
        .filter(col("shared") >= 3)
        .withColumn("dist", levenshtein(col("ta"), col("tb")))
        .filter(col("dist") <= 4)
        .select("ka", "kb", "dist")
      assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
        s"seed=$seed: edit-distance join diverges from nested loop")
    }
  }

  test("bloom screen has no false negatives and FPs are deterministic") {
    import graft.operators.BloomScreen
    for (seed <- 1L to 4L) {
      val all = Gen.listOfN(400, Gen.choose(0, 100000))
        .pureApply(params, Seed(seed)).distinct.map(i => s"value-$i")
      val (ref, rest) = all.splitAt(40)
      val refDf = ref.toDF("s")
      val bits = BloomScreen.buildBits(refDf, "s", k = 2)
      // every reference member MUST hit (no false negatives, ever)
      val misses = refDf.filter(!BloomScreen.hit(bits, col("s"), k = 2)).count()
      assert(misses === 0, s"seed=$seed: bloom false negative")
      // the flagged subset of non-members is a deterministic function of
      // the data — two independent builds agree exactly
      val bits2 = BloomScreen.buildBits(ref.toDF("s"), "s", k = 2)
      val restDf = rest.toDF("s")
      val f1 = restDf.filter(BloomScreen.hit(bits, col("s"), k = 2)).collect().toSet
      val f2 = restDf.filter(BloomScreen.hit(bits2, col("s"), k = 2)).collect().toSet
      assert(f1 === f2)
    }
  }
}
