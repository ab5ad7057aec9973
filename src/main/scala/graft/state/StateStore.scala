package graft.state

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Incremental-replication state accumulator.
  *
  * Re-expresses the reference's dual-representation state bookkeeping
  * (reference `tap_airbyte/tap.py:819-884`): every incoming Airbyte STATE
  * message updates
  *
  *   1. a V2 list kept under the `airbyte_state` key, with per-type merge
  *      rules — STREAM: upsert by `stream_descriptor`; GLOBAL: singleton
  *      upsert; LEGACY: clear-and-replace the whole list — and
  *   2. a legacy "unpacked" top-level state taken from the message's `data`
  *      field when present, else from the per-type sub-document
  *      (reference `tap.py:869-876` precedence).
  *
  * The resulting JSON object (`unpacked ++ {airbyte_state: [...]}`) is what
  * gets emitted as a Singer STATE message after every merge and once at EOF,
  * and what a subsequent run feeds back to the source as `--state`
  * (reference `tap.py:592-601`).
  *
  * Thread-safe via synchronization: in the Spark engine this is driver-side
  * bookkeeping (bookmarks are per-run metadata, never shipped to executors),
  * so a lock-per-merge has zero effect on 100 TB scan throughput.
  */
final class StateStore(initial: Option[JsonNode] = None) {

  private val mapper = new ObjectMapper()

  /** Current composite state: legacy unpacked fields at top level plus the
    * V2 list under "airbyte_state".
    */
  private var current: ObjectNode = initial match {
    case Some(n: ObjectNode) => n.deepCopy()
    case _                   => mapper.createObjectNode()
  }

  def snapshot: JsonNode = synchronized(current.deepCopy())

  def isEmpty: Boolean = synchronized(!current.fieldNames().hasNext)

  /** Merge one Airbyte STATE message (the value of the envelope's `state`
    * field). Returns the new composite state snapshot.
    */
  def merge(stateMessage: JsonNode): JsonNode = synchronized {
    val stateType = Option(stateMessage.get("type")).map(_.asText).getOrElse("LEGACY")

    // V2 list: start from the existing list (or empty), apply per-type rule.
    val v2: ArrayNode = current.get("airbyte_state") match {
      case a: ArrayNode => a.deepCopy()
      case _            => mapper.createArrayNode()
    }

    stateType match {
      case "STREAM" =>
        val stream = stateMessage.get("stream")
        val descriptor = stream.get("stream_descriptor")
        val existing = v2.elements().asScala.find { e =>
          e.get("type") != null && e.get("type").asText == "STREAM" &&
            e.get("stream") != null && e.get("stream").get("stream_descriptor") == descriptor
        }
        existing match {
          case Some(e: ObjectNode) =>
            e.get("stream").asInstanceOf[ObjectNode]
              .set[JsonNode]("stream_state", stream.get("stream_state").deepCopy())
          case _ =>
            val entry = mapper.createObjectNode()
            entry.put("type", "STREAM")
            entry.set[JsonNode]("stream", stream.deepCopy())
            v2.add(entry)
        }
      case "GLOBAL" =>
        val existing = v2.elements().asScala.collectFirst {
          case e: ObjectNode if e.get("type") != null && e.get("type").asText == "GLOBAL" => e
        }
        existing match {
          case Some(e) => e.set[JsonNode]("global", stateMessage.get("global").deepCopy())
          case None =>
            val entry = mapper.createObjectNode()
            entry.put("type", "GLOBAL")
            entry.set[JsonNode]("global", stateMessage.get("global").deepCopy())
            v2.add(entry)
        }
      case _ => // LEGACY: one record per connector — clear and replace
        v2.removeAll()
        val entry = mapper.createObjectNode()
        entry.put("type", "LEGACY")
        entry.set[JsonNode]("legacy",
          Option(stateMessage.get("legacy")).map(_.deepCopy[JsonNode]()).getOrElse(mapper.nullNode()))
        v2.add(entry)
    }

    // Legacy unpacked top-level: `data` wins, else the per-type sub-document.
    val unpacked: JsonNode =
      if (stateMessage.has("data")) stateMessage.get("data")
      else stateType match {
        case "STREAM" => stateMessage.get("stream")
        case "GLOBAL" => stateMessage.get("global")
        case _        => stateMessage.get("legacy")
      }

    current = unpacked match {
      case o: ObjectNode => o.deepCopy()
      case _             => mapper.createObjectNode()
    }
    current.set[JsonNode]("airbyte_state", v2)
    current.deepCopy()
  }

  // -------------------------------------------------------------------
  // Simple bookmark helpers for the file-native incremental path: the
  // Spark engine persists `{stream -> {cursor_field, cursor_value}}` and
  // turns it into a `col(cursor) > lit(bookmark)` pushdown predicate.
  // -------------------------------------------------------------------

  def setBookmark(stream: String, cursorField: String, value: String): Unit = synchronized {
    val msg = mapper.createObjectNode()
    msg.put("type", "STREAM")
    val s = msg.putObject("stream")
    val d = s.putObject("stream_descriptor")
    d.put("name", stream)
    val ss = s.putObject("stream_state")
    ss.put(cursorField, value)
    merge(msg)
    ()
  }

  def bookmark(stream: String, cursorField: String): Option[String] = synchronized {
    current.get("airbyte_state") match {
      case a: ArrayNode =>
        a.elements().asScala.collectFirst {
          case e
              if e.path("type").asText == "STREAM" &&
                e.path("stream").path("stream_descriptor").path("name").asText == stream &&
                e.path("stream").path("stream_state").has(cursorField) =>
            e.path("stream").path("stream_state").get(cursorField).asText
        }
      case _ => None
    }
  }

  /** Writes the state to `path` atomically: a temp file in the same
    * directory, renamed over `path`, so a crash leaves the old file whole.
    */
  def save(path: Path): Unit = synchronized {
    val target = path.toAbsolutePath
    val dir = Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(dir, target.getFileName.toString, ".tmp")
    try {
      Files.writeString(tmp, mapper.writeValueAsString(current))
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    ()
  }
}

object StateStore {
  private val mapper = new ObjectMapper()

  def load(path: Path): StateStore =
    if (Files.exists(path)) new StateStore(Some(mapper.readTree(Files.readString(path))))
    else new StateStore()
}
