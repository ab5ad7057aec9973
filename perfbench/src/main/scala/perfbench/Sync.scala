package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import graft.catalog.AirbyteCatalog
import graft.sources.SubprocessSource
import graft.state.StateStore
import graft.sync.{SingerSink, SyncEngine}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** Order-free digest of Singer RECORD lines: the count, and sums of a
  * 64-bit hash of each line and of its first (key) field. */
final class Digest {
  var n = 0L
  var keys = 0L
  var lines = 0L
  private def h(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) ^ (MurmurHash3.stringHash(s, 17) & 0xffffffffL)
  def add(line: String): Unit = {
    n += 1
    lines += h(line)
    val k = line.indexOf("\"record\":{")
    keys += h(line.substring(k, line.indexOf(',', k)))
  }
}

/** What the sink must hold for a stream after a sync, and the bookmark the
  * state must carry. */
final case class Expected(records: Long, keyHash: Long, contentHash: Long, bookmark: String)

/** Result of one sync operation; `delivered` is what reached the sink. */
final case class SyncOut(wall: Long, firstRecord: Long, delivered: Map[String, Expected],
    state: StateStore, sinkBytes: Long, spillBytes: Long, stateBytes: Long, spawns: Long)

/** Runs a sync the way the CLI's default action does: SyncEngine.sync
  * (discover + read + bookmarks), a second discover for key properties,
  * one `SingerSink.emit` per stream in name order into a counting writer,
  * then the state save. Each call is timed from outside through the tracer.
  */
final class SyncRunner(spark: SparkSession, tr: Tracer, connector: Path, work: Path,
    cursors: Map[String, String]) {

  private val mapper = new ObjectMapper()
  private var opCount = 0

  def run(stateOut: Path): SyncOut = {
    opCount += 1
    val srcDir = work.resolve(s"connector-work-$opCount")
    val spawns0 = Gen.spawns(connector)
    var firstRecord = 0L
    var sinkBytes = 0L
    val delivered = scala.collection.mutable.Map.empty[String, Expected]
    val t0 = System.nanoTime()
    val state = tr.operation(opCount, "sync") {
      val source = new TracingSource(new SubprocessSource(
        Seq("/bin/sh", connector.resolve("connector.sh").toString), mapper.createObjectNode(), srcDir), tr)
      val state = new StateStore()
      val engine = new SyncEngine(source, Map.empty, None)
      val dfs = tr("sync.engine")(engine.sync(spark, _ => true, _ => "FULL_TABLE", state))
      val catalog = source.discover(spark)
      dfs.toSeq.sortBy(_._1).foreach { case (name, df) =>
        tr("sink.emit") {
          val d = new Digest
          SingerSink.emit(name, df, catalog.stream(name).map(_.primaryKeys).getOrElse(Seq.empty), state, { l =>
            sinkBytes += l.length + 1
            if (l.startsWith("""{"type":"RECORD"""")) {
              if (firstRecord == 0L) firstRecord = System.nanoTime()
              d.add(l)
            }
          })
          delivered(name) = Expected(d.n, d.keys, d.lines, state.bookmark(name, cursors(name)).orNull)
        }
      }
      tr("state.save")(state.save(stateOut))
      state
    }
    val t1 = System.nanoTime()
    val spill = srcDir.resolve("spill")
    val spillBytes = if (Files.exists(spill)) Files.list(spill).iterator().asScala.map(Files.size).sum else 0L
    val out = SyncOut(t1 - t0, if (firstRecord == 0L) 0L else firstRecord - t0, delivered.toMap, state,
      sinkBytes, spillBytes, Files.size(stateOut), Gen.spawns(connector) - spawns0)
    Main.deleteTree(srcDir)
    out
  }
}

object SyncRunner {

  /** Expected Singer RECORD digests: the same rows rendered straight
    * through `SingerSink.recordLines`, bypassing connector, protocol,
    * demux and engine. */
  def singerExpected(spark: SparkSession, s: Gen.StreamData, schema: StructType): Expected = {
    val d = new Digest
    SingerSink.recordLines(s.name, spark.createDataFrame(s.rows.asJava, schema), "1970-01-01T00:00:00.000000Z")
      .collect().foreach(d.add)
    Expected(d.n, d.keys, d.lines, s.maxCursor)
  }

  /** Every mismatch between what a sync delivered and what was expected;
    * the final state must also carry a STREAM entry for every stream. */
  def mismatches(out: SyncOut, expected: Map[String, Expected]): Seq[String] = {
    val inState = out.state.snapshot.path("airbyte_state").elements().asScala
      .map(_.path("stream").path("stream_descriptor").path("name").asText).toSet
    expected.toSeq.flatMap { case (name, e) =>
      out.delivered.get(name) match {
        case None => Seq(s"$name: not delivered")
        case Some(d) => Seq(
          Option.when(d.records != e.records)(s"$name: ${d.records} records, expected ${e.records}"),
          Option.when(d.keyHash != e.keyHash)(s"$name: key digest differs"),
          Option.when(d.contentHash != e.contentHash)(s"$name: content digest differs"),
          Option.when(d.bookmark != e.bookmark)(s"$name: bookmark ${d.bookmark}, expected ${e.bookmark}"),
          Option.when(!inState(name))(s"$name: missing from the final state")).flatten
      }
    }
  }
}

/** The isolated layer probes: each runs one program function over the
  * workload's own input with nothing else around it. */
object Probes {
  /** AirbyteMessage.parse over every line; (lines, unparsed). */
  def parse(lines: IndexedSeq[String]): (Long, Long) = {
    var bad = 0L
    lines.foreach(l => if (graft.protocol.AirbyteMessage.parse(l).isEmpty) bad += 1)
    (lines.size.toLong, bad)
  }

  /** AirbyteCatalog.fromJson plus the Spark schema of every stream. */
  def catalog(catalogMessage: String): Int = {
    val payload = new ObjectMapper().readTree(catalogMessage).get("catalog")
    AirbyteCatalog.fromJson(payload).streams.map(_.sparkSchema.size).sum
  }

  /** StateStore.merge over the STATE payloads in order; the merge count. */
  def merge(states: IndexedSeq[JsonNode]): Int = {
    val s = new StateStore()
    states.foreach(s.merge)
    states.size
  }
}
