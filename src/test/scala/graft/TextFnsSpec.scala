package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Column-function unit coverage: the regex shingle fast path must agree
  * with the HOF formulation on messy whitespace (newlines, tabs, runs of
  * spaces), since the DuckDB oracles tokenize on \s+.
  */
class TextFnsSpec extends SparkSpec {
  import spark.implicits._

  test("shinglesRegex == shingles on messy whitespace") {
    val docs = Seq(
      "a b c d e",
      "a\nb\tc  d\r\ne",
      "  leading   and \t trailing\n ",
      "one",
      "two tokens",
      "exactly three toks").toDF("text")
    for (n <- Seq(2, 3)) {
      val rows = docs.select(
        TextFns.shingles(TextFns.tokens(col("text")), n).as("hof"),
        TextFns.shinglesRegex(col("text"), n).as("re"))
        .as[(Seq[String], Seq[String])].collect()
      rows.foreach { case (hof, re) =>
        assert(re === hof, s"n=$n")
      }
    }
  }

  test("SimHash32 kernel == aggregate formulation") {
    import graft.functions.SimHash32
    val docs = Seq(
      "alpha beta gamma delta alpha",
      "one",
      "repeated repeated repeated",
      "the quick brown fox").toDF("text")
    val toks = TextFns.tokens(col("text"))
    val native = docs.select(SimHash32.of(toks).as("sh")).as[String].collect().toSeq
    // reference formulation: explode + 32 positional ±1 sums
    val tok = docs.withColumn("id", monotonically_increasing_id())
      .select(col("id"), explode(toks).as("t"))
      .select(col("id"), md5(col("t")).as("h"))
    val bitAggs = (1 to 32).map(p =>
      sum(when(ascii(substring(col("h"), p, 1)) >= 56, 1).otherwise(-1)).as(s"s$p"))
    val agg = tok.groupBy(col("id")).agg(bitAggs.head, bitAggs.tail: _*)
      .orderBy("id")
      .select(concat((1 to 32).map(p => when(col(s"s$p") > 0, "1").otherwise("0")): _*))
      .as[String].collect().toSeq
    assert(native === agg)
  }

  test("MinHash16 kernel == min-aggregate formulation") {
    import graft.functions.MinHash16
    val docs = Seq(
      "a b c d e f g h i j",
      "lorem ipsum dolor sit amet consectetur",
      "x y z x y z x y z").toDF("text")
    val shs = array_distinct(TextFns.shinglesRegex(col("text"), 3))
    val native = docs.select(MinHash16.of(shs).as("mh")).as[Seq[String]].collect().toSeq
    val exploded = docs.withColumn("id", monotonically_increasing_id())
      .select(col("id"), explode(shs).as("s"))
    val mhAggs = for (k <- 0 until 4; j <- 0 until 4) yield
      min(substring(md5(concat(lit(s"$k:"), col("s"))), 1 + 8 * j, 8)).as(s"mh${k}_$j")
    val agg = exploded.groupBy(col("id")).agg(mhAggs.head, mhAggs.tail: _*)
      .orderBy("id")
      .select(array((for (k <- 0 until 4; j <- 0 until 4) yield col(s"mh${k}_$j")): _*))
      .as[Seq[String]].collect().toSeq
    assert(native === agg)
  }

  test("fingerprint is whitespace- and case-insensitive") {
    val fps = Seq("Hello  World", "hello world", "hello\nworld\t")
      .toDF("text").select(TextFns.fingerprint(col("text")))
      .as[String].collect().toSet
    assert(fps.size === 1)
  }

  test("nfc_normalize: decomposed marks compose, NFC input passes through, codegen'd") {
    import graft.functions.NfcNormalize
    val df = Seq("cafe\u0301", "caf\u00e9", "plain ascii", null)
      .toDF("t").select(NfcNormalize.of(col("t")).as("n"), col("t"))
    val rows = df.collect()
    assert(rows(0).getString(0) === "caf\u00e9", "decomposed e + U+0301 composes")
    assert(rows(0).getString(0) === rows(1).getString(0),
      "both encodings canonicalize to the same string (dedup-safe)")
    assert(rows(2).getString(0) === "plain ascii")
    assert(rows(3).isNullAt(0), "null in, null out")
    // the expression must run inside whole-stage codegen, not as a UDF
    // (a literal frame constant-folds away — use a non-foldable source)
    val live = spark.range(4)
      .select(NfcNormalize.of(concat(col("id").cast("string"), lit("e\u0301"))).as("n"))
    assert(live.as[String].collect().toSeq === (0 until 4).map(i => s"$i\u00e9"))
    val plan = uncut(live.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    assert(plan.contains("nfc_normalize") && plan.contains("[codegen id :"),
      s"nfc_normalize must be codegen'd:\n$plan")
  }
}
