package graft

/** Dev microbench (guide §1): decomposes the per-job fee the staged
  * iterative rounds pay. Times, over N=20 reps each on a warm JVM:
  *   1. noop action on a cached-in-driver LocalRelation (pure submit fee)
  *   2. parquet WRITE of a 100-row frame (committer + .crc + rename fee)
  *   3. parquet READ+noop of that dir (listing + footer + plan fee)
  *   4. write+read of a frame with one shuffle (exchange fee, AQE on)
  *   5. same with AQE off
  * Prints medians. Not part of the driver contract.
  */
object Fee {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    import org.apache.spark.sql.functions._
    val dir = Scratch.dir(spark, "fee")
    def time(tag: String)(body: => Unit): Unit = {
      val xs = (1 to 20).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"[fee] $tag%-34s median ${xs(xs.size / 2)}%8.1f ms  min ${xs.head}%8.1f")
    }
    val tiny = spark.range(0, 100, 1, 2).select(col("id"), md5(col("id").cast("string")).as("s"))
    tiny.write.format("noop").mode("overwrite").save() // JIT
    tiny.write.mode("overwrite").parquet(s"$dir/w0")
    time("noop action, no shuffle")(tiny.write.format("noop").mode("overwrite").save())
    var i = 0
    time("parquet write 100 rows") { i += 1; tiny.write.mode("overwrite").parquet(s"$dir/w$i") }
    time("parquet read+noop") {
      Tables.parquet(spark, s"$dir/w1").write.format("noop").mode("overwrite").save()
    }
    val shuf = tiny.groupBy(col("s")).agg(count(lit(1)).as("n"))
    time("1-shuffle noop, AQE on")(shuf.write.format("noop").mode("overwrite").save())
    graft.plans.Tuning.withoutAqe(spark) {
      time("1-shuffle noop, AQE off")(shuf.write.format("noop").mode("overwrite").save())
    }
    graft.plans.Tuning.withTinyShuffles(spark) {
      time("1-shuffle noop, AQE off, 2 parts")(shuf.write.format("noop").mode("overwrite").save())
    }
    // staged-chain comparison: 8 rounds of a tiny map, parquet write+read
    // per round vs persist(MEMORY_AND_DISK)+materialize per round
    time("8-round chain, parquet staging") {
      var cur = tiny
      (1 to 8).foreach { r =>
        cur.write.mode("overwrite").parquet(s"$dir/chain$r")
        cur = Tables.parquet(spark, s"$dir/chain$r")
          .withColumn("id", col("id") + 1)
      }
      cur.write.format("noop").mode("overwrite").save()
    }
    time("8-round chain, persist staging") {
      var cur = tiny
      val live = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
      (1 to 8).foreach { _ =>
        val st = cur.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        st.count()
        live += st
        cur = st.withColumn("id", col("id") + 1)
      }
      cur.write.format("noop").mode("overwrite").save()
      live.foreach(_.unpersist(false))
    }
    time("8-round chain, localCheckpoint") {
      var cur = tiny
      (1 to 8).foreach { _ =>
        cur = cur.localCheckpoint(true).withColumn("id", col("id") + 1)
      }
      cur.write.format("noop").mode("overwrite").save()
    }
    time("read 6 dirs union+window+noop") {
      val seen = Tables.parquet(spark, (1 to 6).map(n => s"$dir/w$n"))
      seen.withColumn("rk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("id") % 5)
            .orderBy(col("s"))))
        .filter(col("rk") <= 32)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
