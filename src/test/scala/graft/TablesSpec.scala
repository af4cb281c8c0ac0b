package graft

import org.apache.spark.sql.catalyst.plans.logical.{Repartition,
  RepartitionByExpression}
import org.apache.spark.sql.functions._

/** `Tables.widenCpu`'s contract: a repartition to the session's
  * `defaultParallelism` exactly when the frame's estimated bytes are
  * below `maxPartitionBytes × slots`, hashed on the keys when keys are
  * given, and the input frame itself otherwise.
  */
class TablesSpec extends SparkSpec {

  private def small = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))

  test("widenCpu below the threshold: round-robin at defaultParallelism, " +
      "or hash on the given keys") {
    val slots = spark.sparkContext.defaultParallelism
    val df = small
    df.queryExecution.optimizedPlan match {
      case _: Repartition | _: RepartitionByExpression =>
        fail("fixture already carries a repartition")
      case _ =>
    }
    Tables.widenCpu(df).queryExecution.optimizedPlan match {
      case r: Repartition =>
        assert(r.shuffle && r.numPartitions == slots)
      case p => fail(s"expected a round-robin repartition, got\n$p")
    }
    Tables.widenCpu(df, col("k")).queryExecution.optimizedPlan match {
      case r: RepartitionByExpression =>
        assert(r.optNumPartitions.contains(slots))
        assert(r.partitionExpressions.flatMap(_.references.map(_.name)) ==
          Seq("k"))
      case p => fail(s"expected a hash repartition on k, got\n$p")
    }
    assert(Tables.widenCpu(df, col("k")).collect().toSet == df.collect().toSet)
  }

  test("widenCpu is the identity at or above the threshold and on " +
      "streaming frames") {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    try {
      // 8000 estimated bytes against a 1-byte split: the scan already
      // has more splits than the session has slots
      spark.conf.set(key, "1")
      val df = small
      assert(Tables.widenCpu(df) eq df)
      assert(Tables.widenCpu(df, col("k")) eq df)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val stream = spark.readStream.format("rate").load()
    assert(Tables.widenCpu(stream) eq stream)
    assert(Tables.widenCpu(stream, col("value")) eq stream)
  }
}
