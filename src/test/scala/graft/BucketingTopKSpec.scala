package graft

import org.apache.spark.sql.functions._
import graft.functions.TopKAggregator
import graft.operators.Bucketing

class BucketingTopKSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed co-located join plans with zero shuffle exchanges") {
    val li = Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_quantity")
    val ord = Tables.orders(spark, sfDir)
      .select($"o_orderkey".as("l_orderkey"), $"o_totalprice")
    Bucketing.writeBucketed(li, "li_bucketed", "l_orderkey", 8)
    Bucketing.writeBucketed(ord, "ord_bucketed", "l_orderkey", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = Bucketing.colocatedJoin(spark, "li_bucketed", "ord_bucketed", "l_orderkey")
      val plan = uncut(joined.queryExecution.executedPlan.toString)
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      // correctness: equals the plain join
      val plain = Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_quantity")
        .join(Tables.orders(spark, sfDir)
          .select($"o_orderkey".as("l_orderkey"), $"o_totalprice"), Seq("l_orderkey"))
      assert(joined.count() === plain.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("bucketed groupBy on the bucket key avoids the shuffle too") {
    val agg = spark.table("li_bucketed").groupBy("l_orderkey")
      .agg(sum("l_quantity").as("q"))
    val plan = uncut(agg.queryExecution.executedPlan.toString)
    assert(!plan.contains("Exchange"), s"bucketed agg must not shuffle:\n$plan")
  }

  test("TopK aggregator: exact top-k under capacity, distributed merge") {
    val words = Seq.fill(50)("the") ++ Seq.fill(30)("quick") ++ Seq.fill(20)("fox") ++
      Seq.fill(5)("lazy") ++ Seq("dog", "dog", "cat")
    val ds = spark.createDataset(scala.util.Random.shuffle(words)).repartition(7)
    val topk = new TopKAggregator(k = 3, capacity = 100).toColumn
    val got = ds.select(topk).head()
    assert(got === Seq(("the", 50L), ("quick", 30L), ("fox", 20L)))
  }

  test("TopK aggregator: heavy hitters survive capacity pressure") {
    // 1 dominant item among many singletons; capacity much smaller than distincts
    val data = Seq.fill(500)("hot") ++ (1 to 400).map(i => s"cold-$i")
    val ds = spark.createDataset(scala.util.Random.shuffle(data)).repartition(4)
    val got = ds.select(new TopKAggregator(k = 1, capacity = 50).toColumn).head()
    assert(got.head._1 === "hot")
    assert(got.head._2 >= 500L) // space-saving overestimates, never undercounts
  }

  test("TopK over real documents: top tokens per the corpus") {
    val toks = Tables.documents(spark, sfDir)
      .select(explode(split(trim(col("text")), "\\s+")).as("t")).as[String]
    val got = toks.select(new TopKAggregator(k = 5, capacity = 1000).toColumn).head()
    val exact = toks.groupBy("t").count()
      .orderBy(col("count").desc, col("t")).limit(5)
      .as[(String, Long)].collect().toSeq
    assert(got === exact)
  }
}
