package graft.queries

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streaming.StreamingSync

/** The `q_stream_*` fixture harness: `StreamSync.land` orders micro-batches
  * by landing order, and `StreamSync.replay` writes `_DONE` only after its
  * guard passes, so a refused sink is rebuilt rather than served; a built
  * fixture leaves no staging directory and no lockfile behind.
  */
class StreamSyncHarnessSpec extends SparkSpec {

  private def withTempDir(f: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("stream-sync-harness")
    try f(dir) finally Fixtures.deleteRecursively(dir)
  }

  private def oneRow(v: Long): DataFrame = spark.range(1).select(lit(v).as("v"))

  test("land: three one-row frames arrive as three micro-batches in landing order") {
    withTempDir { tmp =>
      val frames = Seq(3L, 1L, 2L).map(oneRow)
      val glob = StreamSync.land(tmp.resolve("landing"), frames)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
      val q = StreamingSync.readJsonlStream(spark, glob, frames.head.schema,
          maxFilesPerTrigger = 1)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          seen.add(batch.collect().map(_.getLong(0)).toSeq); ()
        }
        .start()
      assert(q.awaitTermination(60000), "replay did not finish")
      assert(seen.asScala.toSeq == Seq(Seq(3L), Seq(1L), Seq(2L)))
    }
  }

  test("replay: a refused guard leaves no _DONE and the next call rebuilds") {
    withTempDir { d =>
      spark.range(3).write.parquet(d.resolve("t.parquet").toString)
      val name = s"harness_spec_${System.nanoTime}"
      val root = Fixtures.root(d.toString, "t", name)
      var builds = 0
      def run(accept: Boolean): String =
        StreamSync.replay(spark, d.toString, "t", name) { r =>
          builds += 1
          val frames = Seq(oneRow(7L))
          StreamingSync.readJsonlStream(spark,
            StreamSync.land(r.resolve("landing"), frames), frames.head.schema,
            maxFilesPerTrigger = 1)
        } { sunk => require(accept && sunk.count() == 1L, "guard refused the sink") }
      try {
        intercept[IllegalArgumentException](run(accept = false))
        assert(builds == 1)
        assert(!Files.exists(root.resolve("_DONE")))
        val sink = run(accept = true)
        assert(builds == 2, "the unmarked sink was served instead of rebuilt")
        assert(Files.exists(root.resolve("_DONE")))
        assert(spark.read.parquet(sink).collect().map(_.getLong(0)).toSeq == Seq(7L))
        assert(run(accept = true) == sink)
        assert(builds == 2, "a marked sink was rebuilt")
        val walk = Files.walk(root)
        val staged =
          try walk.iterator.asScala.filter(_.getFileName.toString.startsWith("staged_")).toList
          finally walk.close()
        assert(staged.isEmpty, s"staging left behind: $staged")
        assert(!Files.exists(root.resolveSibling(s"${root.getFileName}.lock")), "lockfile left behind")
      } finally {
        Fixtures.deleteRecursively(root)
        Files.deleteIfExists(root.resolveSibling(s"${root.getFileName}.lock"))
      }
    }
  }
}
