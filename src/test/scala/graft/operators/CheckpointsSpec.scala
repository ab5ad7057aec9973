package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  test("fixedRounds clamps the carried stats of every pin and releases all but the result") {
    val init = (1L to 8L).toDF("id")
    val inputs = scala.collection.mutable.Buffer.empty[DataFrame]
    val before = spark.sparkContext.getPersistentRDDs.size
    // a self-join squares the carried size estimate each round: unclamped,
    // round 4's pin carries ~1.2e31 bytes and each later round squares it
    val out = Checkpoints.fixedRounds(init, rounds = 6, every = 1) { df =>
      inputs += df
      df.join(df.withColumnRenamed("id", "id2"), col("id") === col("id2")).select(col("id"))
    }
    assert(out.as[Long].collect().sorted.toSeq == (1L to 8L))
    // rounds 2..6 read the pins of rounds 1..5; the result is round 6's
    val pins = inputs.tail.toSeq :+ out
    assert(pins.size == 6)
    for ((p, i) <- pins.zipWithIndex) {
      val plan = p.queryExecution.logical
      assert(plan.isInstanceOf[LogicalRDD], s"round ${i + 1} did not pin")
      assert(plan.stats.sizeInBytes <= BigInt(Long.MaxValue),
        s"round ${i + 1} carries ${plan.stats.sizeInBytes} bytes")
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1, s"pins leaked: $before -> $after")
  }
}
