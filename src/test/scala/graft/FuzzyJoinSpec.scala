package graft

import graft.operators.FuzzyJoin

/** FuzzyJoin: the q-gram count-filter edit-distance join must equal the
  * naive all-pairs levenshtein join — the filter is a complete
  * (necessary) condition, so blocking may never lose a qualifying pair.
  */
class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      var prev = dp(0); dp(0) = i
      for (j <- 1 to b.length) {
        val cur = dp(j)
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(b.length)
  }

  private def naive(names: Seq[String], k: Int): Set[(String, String, Long)] = {
    val d = names.distinct
    (for {
      a <- d; b <- d if a < b
      dist = lev(a, b) if dist <= k
    } yield (a, b, dist.toLong)).toSet
  }

  private def blocked(names: Seq[String], k: Int, q: Int = 2): Set[(String, String, Long)] =
    FuzzyJoin.fuzzyPairs(names.toDF("nm"), "nm", k, q)
      .as[(String, String, Long)].collect().toSet

  test("random corpus: blocked join equals naive all-pairs for k=1 and k=2") {
    // Small alphabet + tight lengths force plenty of near-miss pairs,
    // gram collisions, and repeated grams (multiset semantics).
    val rnd = new scala.util.Random(42)
    val names = Seq.fill(300)((6 + rnd.nextInt(7), rnd)).map { case (n, r) =>
      Seq.fill(n)(('a' + r.nextInt(3)).toChar).mkString
    }
    for (k <- Seq(1, 2)) {
      val got = blocked(names, k)
      val want = naive(names, k)
      assert(got === want, s"k=$k: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      assert(want.nonEmpty, "fixture must actually exercise matches")
    }
  }

  test("short strings (below the count-filter floor) route through the length-band path") {
    val names = Seq("a", "b", "ab", "ba", "abc", "abcd", "xyz", "", "aa", "aaa", "aaaaa", "aaaab")
    for (k <- Seq(1, 2); q <- Seq(2, 3)) {
      assert(blocked(names, k, q) === naive(names, k), s"k=$k q=$q")
    }
  }

  test("duplicate input rows collapse: pairs are over distinct values, dist >= 1") {
    val names = Seq("widget", "widget", "widgex", "widgex", "gadget")
    val got = blocked(names, 2)
    assert(got === naive(names, 2))
    assert(got.forall(_._3 >= 1L))
  }

  test("plan: no cartesian product; gram keys are 8-byte hashes") {
    val df = FuzzyJoin.fuzzyPairs(
      (1 to 50).map(i => s"name_$i").toDF("nm"), "nm", k = 2)
    val p = uncut(df.queryExecution.executedPlan.toString)
    assert(!p.contains("CartesianProduct"), s"fuzzy join must never plan a cartesian:\n$p")
    assert(p.contains("xxhash64"), "gram join keys must be hashed before the shuffle")
  }
}
