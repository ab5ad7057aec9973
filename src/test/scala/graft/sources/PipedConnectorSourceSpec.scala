package graft.sources

import graft.SparkSpec
import graft.state.StateStore
import org.apache.spark.sql.types._

import java.nio.file.Files

class PipedConnectorSourceSpec extends SparkSpec {

  private def fakeConnector(segment: Int, rows: Range): Seq[String] = {
    val dir = Files.createTempDirectory(s"piped$segment")
    val script = dir.resolve("c.sh")
    val recordLines = rows.map(i =>
      s"""echo '{"type":"RECORD","record":{"stream":"s1","data":{"id":$i,"seg":$segment}}}'""")
    Files.writeString(script,
      ("#!/bin/sh" +: recordLines :+
        s"""echo '{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":"s1"},"stream_state":{"id":"${rows.last}"}}}}'""")
        .mkString("\n") + "\n")
    script.toFile.setExecutable(true)
    Seq("/bin/sh", script.toString)
  }

  test("N connector segments run as N tasks; records demux + states fold in order") {
    val commands = Seq(
      fakeConnector(0, 1 to 5),
      fakeConnector(1, 6 to 9),
      fakeConnector(2, 10 to 12))
    val messages = PipedConnectorSource.readMessages(spark, commands).cache()

    val schema = StructType(Seq(StructField("id", LongType), StructField("seg", IntegerType)))
    val recs = PipedConnectorSource.records(messages, "s1", schema)
    assert(recs.count() == 12)
    val segs = recs.groupBy("seg").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(segs == Map(0 -> 5L, 1 -> 4L, 2 -> 3L))

    val state = PipedConnectorSource.foldStates(messages, new StateStore())
    // last segment's state wins the fold (cmd order): id = 12
    assert(state.bookmark("s1", "id").contains("12"))
    messages.unpersist()
  }

  test("two STATEs from one command merge last-wins via (cmd_index, seq)") {
    val dir = Files.createTempDirectory("pipedmulti")
    val script = dir.resolve("c.sh")
    def stateLine(id: Int) =
      s"""echo '{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":"s1"},"stream_state":{"id":"$id"}}}}'"""
    Files.writeString(script, s"#!/bin/sh\n${stateLine(5)}\n${stateLine(9)}\n")
    script.toFile.setExecutable(true)
    val messages =
      PipedConnectorSource.readMessages(spark, Seq(Seq("/bin/sh", script.toString)))
    val state = PipedConnectorSource.foldStates(messages, new StateStore())
    assert(state.bookmark("s1", "id").contains("9"))
  }

  test("a failing connector fails the job (fail-fast propagation)") {
    val dir = Files.createTempDirectory("pipedbad")
    val script = dir.resolve("bad.sh")
    Files.writeString(script, "#!/bin/sh\necho not-json-but-fine\nexit 3\n")
    script.toFile.setExecutable(true)
    val e = intercept[org.apache.spark.SparkException] {
      PipedConnectorSource.readMessages(spark, Seq(Seq("/bin/sh", script.toString))).count()
    }
    assert(e.getMessage.contains("exited 3") || Option(e.getCause).exists(_.getMessage.contains("exited 3")))
  }

  test("200 KB of stderr before the first RECORD neither blocks nor fails the task") {
    val dir = Files.createTempDirectory("pipedstderr")
    val script = dir.resolve("noisy.sh")
    val pidFile = dir.resolve("pid")
    Files.writeString(script,
      s"""#!/bin/sh
         |echo $$$$ > '$pidFile'
         |i=0
         |while [ $$i -lt 2000 ]; do
         |  echo "${"w" * 80} line $$i of stderr" >&2
         |  i=$$((i + 1))
         |done
         |echo '{"type":"RECORD","record":{"stream":"s1","data":{"id":1,"seg":0}}}'
         |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType), StructField("seg", IntegerType)))
    val ids = MockConnectorE2eSpec.bounded(pidFile) {
      PipedConnectorSource.records(
        PipedConnectorSource.readMessages(spark, Seq(Seq("/bin/sh", script.toString))), "s1", schema)
        .collect().map(_.getLong(0)).toSeq
    }
    assert(ids == Seq(1L))
  }
}
