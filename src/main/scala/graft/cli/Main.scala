package graft.cli

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import graft.catalog.ConfiguredCatalog
import graft.schema.JsonSchemaConverter
import graft.sources.{AirbyteSource, FileNativeSource, SubprocessSource}
import graft.state.StateStore
import graft.sync.{SingerSink, StreamMaps, SyncEngine}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** CLI entry points (reference `tap_airbyte/tap.py:211-311`):
  *
  * {{{
  * graft.cli.Main --config c.json [--discover | --test | --about]
  *                [--state s.json] [--state-out s.json] [--out dir]
  * }}}
  *
  * Config shape (our own, JSON):
  * {{{
  * { "source": {
  *     "type": "file",                      // or "subprocess"
  *     "streams": [{"name":"events","format":"parquet","path":"...",
  *                  "cursor_field":"event_id"}],
  *     // subprocess variant:
  *     "command": ["connector-binary"], "connector_config": { ... }
  *   },
  *   "select": ["events"],                  // omit = all streams
  *   "replication_method": {"events": "INCREMENTAL"},
  *   "flattening_max_depth": 2,             // omit = no flattening
  *   "stream_maps": {"events": {"filter": "value > 0",
  *     "computed": {"v2": "value * 2"}, "renames": {"user_id": "uid"},
  *     "drops": ["props"]}} }
  * }}}
  *
  * Default action is a full sync: Singer SCHEMA/RECORD/STATE JSONL on
  * stdout (or parquet per stream under --out), wall-clock + per-stream
  * counts logged at the end (reference `tap.py:792, 899-902`).
  */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toList)
    val configPath = opts.getOrElse("config",
      sys.error("--config <file> is required"))
    // `--config ENV` sentinel (reference tap.py:262-264): assemble the
    // config from GRAFT_-prefixed environment variables instead of a file.
    val config =
      if (configPath == "ENV") configFromEnv(sys.env)
      else mapper.readTree(Files.readString(Paths.get(configPath)))
    val source = buildSource(config)

    lazy val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

    try {
      if (opts.contains("about")) {
        println(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(source.spec))
        println()
        println(configScaffold(source.spec))
      } else if (opts.contains("test")) {
        val ok = source.check(spark)
        println(if (ok) "Connection test passed." else "Connection test failed.")
        if (!ok) sys.exit(1)
      } else if (opts.contains("discover")) {
        println(catalogJson(spark, source))
      } else {
        sync(spark, source, config, opts)
      }
    } finally if (opts.exists(o => Set("test", "discover").contains(o._1)) || !opts.contains("about"))
      spark.stop()
  }

  private def parseArgs(args: List[String]): Map[String, String] = args match {
    case Nil => Map.empty
    case flag :: rest if flag.startsWith("--") =>
      val key = flag.drop(2)
      rest match {
        case v :: tail if !v.startsWith("--") => parseArgs(tail) + (key -> v)
        case _                                => parseArgs(rest) + (key -> "")
      }
    case _ :: rest => parseArgs(rest)
  }

  /** Config from `GRAFT_<KEY>` environment variables (the `--config ENV`
    * path, reference `tap.py:262-264`): each var becomes top-level key
    * `<key>` (lowercased); values parse as JSON when they are JSON,
    * otherwise as plain strings.
    */
  // Strict parse: '123 Main St' must stay a string, not truncate to the
  // number 123 (readTree alone stops at the first complete JSON token).
  private val strictMapper = {
    val m = new ObjectMapper()
    m.enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    m
  }

  private[cli] def configFromEnv(env: Map[String, String]): JsonNode = {
    val root = mapper.createObjectNode()
    env.toSeq.sortBy(_._1).foreach { case (k, v) =>
      if (k.startsWith("GRAFT_")) {
        val key = k.stripPrefix("GRAFT_").toLowerCase
        val node =
          try strictMapper.readTree(v)
          catch { case _: Exception => mapper.getNodeFactory.textNode(v) }
        root.set[JsonNode](key, node)
        ()
      }
    }
    root
  }

  /** Commented config scaffold from a connector spec — the `--about`
    * enrichment (reference `print_spec_as_config`, `tap.py:499-522`):
    * every connectionSpecification property becomes a template line with
    * its type, requiredness, and description as a trailing comment.
    */
  private[cli] def configScaffold(spec: JsonNode): String = {
    val cs = spec.path("connectionSpecification")
    val required = Option(cs.get("required")).toSeq
      .flatMap(_.elements().asScala.map(_.asText)).toSet
    val sb = new StringBuilder("# Config scaffold (fill in and pass via --config):\n{\n")
    val props = Option(cs.get("properties")).toSeq.flatMap(_.properties().asScala)
    props.zipWithIndex.foreach { case (e, i) =>
      val name = e.getKey
      val p = e.getValue
      val tpe = Option(p.get("type")).map(t =>
        if (t.isArray) t.elements().asScala.map(_.asText).mkString("|") else t.asText)
        .getOrElse("any")
      val placeholder = Option(p.get("default")).map(_.toString).getOrElse(tpe match {
        case t if t.contains("string")  => "\"...\""
        case t if t.contains("integer") => "0"
        case t if t.contains("number")  => "0.0"
        case t if t.contains("boolean") => "false"
        case t if t.contains("array")   => "[]"
        case t if t.contains("object")  => "{}"
        case _                          => "null"
      })
      val comma = if (i < props.size - 1) "," else ""
      val req = if (required.contains(name)) "required" else "optional"
      val desc = Option(p.get("description")).map(d => s" — ${d.asText}").getOrElse("")
      sb.append(s"""  "$name": $placeholder$comma  # $req, $tpe$desc\n""")
    }
    sb.append("}").toString
  }

  private[cli] def buildSource(config: JsonNode): AirbyteSource = {
    val src = config.get("source")
    src.path("type").asText("file") match {
      case "file" =>
        val streams = src.get("streams").elements().asScala.map { s =>
          FileNativeSource.FileStream(
            name = s.get("name").asText,
            format = s.path("format").asText("parquet"),
            path = s.get("path").asText,
            options = Option(s.get("options")).map(_.properties().asScala
              .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty),
            cursorField = Option(s.get("cursor_field")).filterNot(_.isNull).map(_.asText),
            primaryKeys = Option(s.get("primary_key")).toSeq
              .flatMap(_.elements().asScala.map(_.asText)))
        }.toSeq
        new FileNativeSource(streams)
      case "subprocess" =>
        new SubprocessSource(
          command = src.get("command").elements().asScala.map(_.asText).toSeq,
          config = Option(src.get("connector_config"): JsonNode)
            .getOrElse(mapper.createObjectNode()),
          workDir = Files.createTempDirectory("graft-connector"))
      case other => sys.error(s"unknown source type: $other")
    }
  }

  /** Singer-style catalog document from discovery. */
  private[cli] def catalogJson(spark: SparkSession, source: AirbyteSource): String = {
    val cat = source.discover(spark)
    val root = mapper.createObjectNode()
    val arr = root.putArray("streams")
    cat.streams.foreach { s =>
      val n = arr.addObject()
      n.put("tap_stream_id", s.name)
      n.put("stream", s.name)
      n.set[JsonNode]("schema", s.jsonSchema)
      val kp = n.putArray("key_properties")
      s.primaryKeys.foreach(kp.add)
      s.cursorField.foreach(c => n.put("replication_key", c))
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** Parquet sink with the record count OBSERVED on the write job itself
    * (`Dataset.observe` — the metric rides the same pass), so the stream
    * is computed exactly once. A follow-up `df.count()` would rescan
    * everything — and for a subprocess-backed source, re-run the
    * connector child, so the reported count could even disagree with
    * what was written. The reference pays the same single pass: its
    * counts fold over the one stdout stream (tap.py:899-902).
    */
  private[cli] def writeParquetCounted(
      name: String,
      df: org.apache.spark.sql.DataFrame,
      dir: String): (String, Long) = {
    val obs = org.apache.spark.sql.Observation(s"graft_sync_$name")
    df.observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$dir/$name")
    name -> obs.get("n").asInstanceOf[Long]
  }

  /** Singer emission of `streams` in the given order through `out`, with
    * each stream's RECORD count: the lines that start with the RECORD
    * envelope, so a SCHEMA or STATE line that mentions `"RECORD"` (a
    * column of that name) is not counted. Once the consumer closes, the
    * remaining streams are skipped with a count of 0.
    */
  private[cli] def emitSinger(
      streams: Seq[(String, org.apache.spark.sql.DataFrame)],
      keyProperties: String => Seq[String],
      state: StateStore,
      out: String => Unit): Seq[(String, Long)] = {
    var downstreamClosed = false
    streams.map { case (name, df) =>
      if (downstreamClosed) name -> 0L // consumer is gone
      else {
        var n = 0L
        val completed = SingerSink.emit(name, df, keyProperties(name), state, { l =>
          out(l)
          if (l.startsWith(SingerSink.RecordPrefix)) n += 1
        })
        if (!completed) {
          downstreamClosed = true
          System.err.println(s"[graft] downstream closed mid-stream on $name; ending sync")
        }
        name -> n
      }
    }
  }

  private def sync(
      spark: SparkSession,
      source: AirbyteSource,
      config: JsonNode,
      opts: Map[String, String]): Unit = {
    val t0 = System.nanoTime()
    // Singer catalog document (--catalog): stream/field `selected` metadata,
    // the reference's primary selection input (tap.py:211-311, 748-774).
    val catalogSel = opts.get("catalog").map(p =>
      graft.catalog.SingerCatalogDoc.parse(Files.readString(Paths.get(p))))
    val configSelect: String => Boolean = Option(config.get("select")) match {
      case Some(sel) if sel.isArray =>
        val set = sel.elements().asScala.map(_.asText).toSet
        set.contains(_)
      case _ => _ => true
    }
    val selected: String => Boolean =
      name => configSelect(name) && catalogSel.forall(_.selects(name))
    val replication: String => String = Option(config.get("replication_method")) match {
      case Some(r) if r.isObject =>
        name => catalogSel.flatMap(_.replicationMethod.get(name))
          .getOrElse(r.path(name).asText("FULL_TABLE"))
      case _ =>
        name => catalogSel.flatMap(_.replicationMethod.get(name)).getOrElse("FULL_TABLE")
    }
    val maps: Map[String, StreamMaps.StreamMap] = Option(config.get("stream_maps")) match {
      case Some(ms) if ms.isObject =>
        ms.properties().asScala.map { e =>
          val v = e.getValue
          e.getKey -> StreamMaps.StreamMap(
            filter = Option(v.get("filter")).map(_.asText),
            computed = Option(v.get("computed")).toSeq.flatMap(_.properties().asScala
              .map(c => c.getKey -> c.getValue.asText)),
            renames = Option(v.get("renames")).map(_.properties().asScala
              .map(r => r.getKey -> r.getValue.asText).toMap).getOrElse(Map.empty),
            drops = Option(v.get("drops")).toSeq.flatMap(_.elements().asScala.map(_.asText)),
            alias = Option(v.get("alias")).filterNot(_.isNull).map(_.asText),
            source = Option(v.get("source")).filterNot(_.isNull).map(_.asText))
        }.toMap
      case _ => Map.empty
    }
    val flattening = Option(config.get("flattening_max_depth")).map(_.asInt)

    // Field-level deselection from the catalog document lands as extra
    // stream-map drops (the singer-sdk route: metadata → column drops).
    val mapsWithCatalogDrops = catalogSel.map(_.fieldDrops).getOrElse(Map.empty)
      .foldLeft(maps) { case (acc, (stream, fields)) =>
        val m = acc.getOrElse(stream, StreamMaps.StreamMap())
        acc + (stream -> m.copy(drops = (m.drops ++ fields).distinct))
      }

    val state = opts.get("state").map(p => StateStore.load(Paths.get(p)))
      .getOrElse(new StateStore())
    val engine = new SyncEngine(source, mapsWithCatalogDrops, flattening)
    val dfs = engine.sync(spark, selected, replication, state)

    val catalog = source.discover(spark)
    // Per-stream consumer parallelism (SURVEY §2.1 #9 — the reference runs
    // one daemon thread per stream, tap.py:783-791): with --out and
    // --jobs N, stream writes run as N concurrent Spark jobs from the
    // driver (Spark job submission is thread-safe; executors multiplex).
    // Singer stdout emission stays sequential — stdout is one resource,
    // exactly like the reference's STDOUT_LOCK.
    val jobs = opts.get("jobs").flatMap(_.toIntOption).getOrElse(1)
    val parquetSink: ((String, org.apache.spark.sql.DataFrame)) => (String, Long) = {
      case (name, df) => writeParquetCounted(name, df, opts("out"))
    }
    val counts: Seq[(String, Long)] =
      if (opts.contains("out") && jobs > 1) {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(jobs)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          val futures = dfs.toSeq.sortBy(_._1).map(e =>
            scala.concurrent.Future(parquetSink(e)))
          scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(futures),
            scala.concurrent.duration.Duration.Inf)
        } finally { pool.shutdown() }
      } else if (opts.contains("out")) dfs.toSeq.sortBy(_._1).map(parquetSink)
      else {
        // aliased/duplicated outputs resolve key_properties through their
        // SOURCE stream's catalog entry, not the output name
        val sourceOf: Map[String, String] = mapsWithCatalogDrops.flatMap {
          case (key, m) =>
            m.source.map(src => key -> src)
              .orElse(m.alias.map(a => a -> key))
        }
        var emitted = 0L
        // PrintStream swallows broken pipes and raises checkError() —
        // surface it as DownstreamClosed so emit() stops cleanly and the
        // final state still lands in --state-out (reference tap.py:62-80).
        // checkError() flushes, so probe every 1024 lines, not per record.
        emitSinger(dfs.toSeq.sortBy(_._1),
          name => catalog.stream(sourceOf.getOrElse(name, name)).map(_.primaryKeys).getOrElse(Seq.empty),
          state, { l =>
            println(l)
            emitted += 1
            if ((emitted & 1023L) == 0L && System.out.checkError())
              throw new SingerSink.DownstreamClosedException()
          })
      }
    opts.get("state-out").foreach(p => state.save(Paths.get(p)))
    val secs = (System.nanoTime() - t0) / 1e9
    // timing/cost report (tap.py:792, 899-902 analog) — stderr, not stdout,
    // so the Singer stream stays machine-readable
    counts.foreach { case (name, n) => System.err.println(f"[graft] stream $name: $n%d records") }
    System.err.println(f"[graft] Synced ${counts.size}%d streams in $secs%.2f seconds.")
  }
}
