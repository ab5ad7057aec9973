package graft.sources.dsv2

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

class AirbyteConnectorDataSourceSpec extends SparkSpec {

  private def fakeSegment(seg: Int, rows: Range): Seq[String] = {
    val dir = Files.createTempDirectory(s"dsv2seg$seg")
    val script = dir.resolve("c.sh")
    val lines = rows.map(i =>
      s"""echo '{"type":"RECORD","record":{"stream":"s1","data":{"id":$i,"seg":$seg,"name":"row$i","score":${i * 1.5}}}}'""")
    Files.writeString(script, ("#!/bin/sh" +: lines).mkString("\n") + "\n")
    script.toFile.setExecutable(true)
    Seq("/bin/sh", script.toString)
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("seg", IntegerType),
    StructField("name", StringType), StructField("score", DoubleType)))

  private def commandsJson(cmds: Seq[Seq[String]]): String =
    cmds.map(_.map(c => "\"" + c + "\"").mkString("[", ",", "]")).mkString("[", ",", "]")

  test("format(graft-airbyte): N segments read as N partitions with typed rows") {
    val cmds = Seq(fakeSegment(0, 1 to 4), fakeSegment(1, 5 to 7))
    val df = spark.read.format("graft-airbyte")
      .option("commands", commandsJson(cmds))
      .option("stream", "s1")
      .schema(schema)
      .load()
    assert(df.rdd.getNumPartitions == 2)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 7)
    assert(rows.head.getLong(0) == 1L && rows.head.getString(2) == "row1")
    assert(rows.last.getDouble(3) == 10.5)
  }

  test("column pruning pushes into the source (ReadSchema carries only selected fields)") {
    val cmds = Seq(fakeSegment(2, 1 to 3))
    val df = spark.read.format("graft-airbyte")
      .option("commands", commandsJson(cmds))
      .option("stream", "s1")
      .schema(schema)
      .load()
      .select("id") // prune to one column
    val plan = df.queryExecution.executedPlan.toString
    assert(df.schema.fieldNames.toSeq == Seq("id"))
    // DSv2 BatchScan prints its (pruned) output attributes inline:
    // `BatchScan graft-airbyte(s1)[id#N]` — name/seg/score must not appear
    val scanLine = plan.linesIterator.find(_.contains("BatchScan graft-airbyte")).getOrElse("")
    assert(scanLine.contains("[id#"), s"pruning not pushed:\n$plan")
    assert(!scanLine.contains("name#") && !scanLine.contains("score#"),
      s"unpruned columns reached the scan:\n$plan")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  // Nested shape mirroring the reference's SMEARGLE fixture
  // (reference tests/fixtures/SMEARGLE.singer:1 — objects, arrays of
  // objects, booleans, integers): typed nested rows must round-trip.
  test("nested/temporal fields convert to typed rows (SMEARGLE-shaped)") {
    val dir = Files.createTempDirectory("dsv2nested")
    val script = dir.resolve("c.sh")
    val rec =
      """{"type":"RECORD","record":{"stream":"poke","data":{
        |"id":235,"name":"smeargle","is_default":true,
        |"sprites":{"front_default":"https://img/235.png","back_default":null},
        |"abilities":[{"ability":{"name":"own-tempo"},"is_hidden":false},
        |             {"ability":{"name":"technician"},"is_hidden":true}],
        |"caught_at":"2024-03-01T12:30:45Z",
        |"tags":{"gen":"2","kind":"normal"}}}}""".stripMargin.replaceAll("\n", "")
    Files.writeString(script, s"#!/bin/sh\necho '$rec'\n")
    val nestedSchema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("is_default", BooleanType),
      StructField("sprites", StructType(Seq(
        StructField("front_default", StringType), StructField("back_default", StringType)))),
      StructField("abilities", ArrayType(StructType(Seq(
        StructField("ability", StructType(Seq(StructField("name", StringType)))),
        StructField("is_hidden", BooleanType))))),
      StructField("caught_at", TimestampType),
      StructField("tags", MapType(StringType, StringType))))
    val df = spark.read.format("graft-airbyte")
      .option("commands", commandsJson(Seq(Seq("/bin/sh", script.toString))))
      .option("stream", "poke")
      .schema(nestedSchema)
      .load()
    val row = df.collect().head
    assert(row.getLong(0) == 235L && row.getString(1) == "smeargle" && row.getBoolean(2))
    val sprites = row.getStruct(3)
    assert(sprites.getString(0) == "https://img/235.png" && sprites.isNullAt(1))
    val abilities = row.getSeq[org.apache.spark.sql.Row](4)
    assert(abilities.map(_.getStruct(0).getString(0)) == Seq("own-tempo", "technician"))
    assert(abilities.map(_.getBoolean(1)) == Seq(false, true))
    assert(row.getTimestamp(5).toInstant == java.time.Instant.parse("2024-03-01T12:30:45Z"))
    assert(row.getMap[String, String](6) == Map("gen" -> "2", "kind" -> "normal"))
    // deselecting the nested columns still prunes into the source
    assert(df.select("name").collect().head.getString(0) == "smeargle")
  }

  test("unsupported field types are rejected at plan time, not corrupted at read") {
    val dir = Files.createTempDirectory("dsv2bad")
    val script = dir.resolve("c.sh")
    Files.writeString(script, "#!/bin/sh\n")
    val bad = StructType(Seq(StructField("x", CalendarIntervalType)))
    val e = intercept[Exception] {
      spark.read.format("graft-airbyte")
        .option("commands", commandsJson(Seq(Seq("/bin/sh", script.toString))))
        .schema(bad).load().collect()
    }
    assert(e.getMessage.contains("unsupported field type") ||
      Option(e.getCause).exists(_.getMessage.contains("unsupported field type")))
  }

  test("filter pushdown: supported predicates drop rows at the connector boundary") {
    val cmds = Seq(fakeSegment(4, 1 to 9))
    val df = spark.read.format("graft-airbyte")
      .option("commands", commandsJson(cmds))
      .option("stream", "s1")
      .schema(schema)
      .load()
      .filter(col("id") >= 3 && col("id") < 7 && col("name") =!= "row5")
    // the scan's description must report the comparisons it evaluates
    // source-side (best-effort: Spark still re-filters after the scan)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThanOrEqual(id,3)"),
      s"filters not pushed:\n$plan")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 6L))
  }

  test("JSON-level filter eval follows SQL null semantics") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree("""{"id":5,"name":"x","missing_is":null}""")
    import org.apache.spark.sql.sources._
    val evalSchema = StructType(schema.fields :+ StructField("missing_is", LongType))
    val ev = ConnectorFilterEval.eval(evalSchema) _
    assert(ev(EqualTo("id", 5L), node))
    assert(!ev(EqualTo("id", 6L), node))
    assert(ev(LessThanOrEqual("id", 5L), node))
    assert(ev(GreaterThan("name", "w"), node))
    assert(ev(IsNotNull("id"), node))
    // null field and absent field fail IsNotNull AND every comparison
    assert(!ev(IsNotNull("missing_is"), node))
    assert(!ev(IsNotNull("absent"), node))
    assert(!ev(EqualTo("absent", 1L), node))
    assert(!ev(LessThan("missing_is", 1L), node))
    // a literal type that doesn't match the field type can't be mirrored
    // exactly → KEEP (the residual filter decides), never drop
    assert(ev(GreaterThan("name", 3L), node))
    // exact numeric compare crosses JSON int/double representations
    val frac = mapper.readTree("""{"score":2.5}""")
    assert(ev(GreaterThan("score", 2L), frac))
    assert(!ev(GreaterThan("score", java.lang.Double.valueOf(2.5)), frac))
  }

  test("filter eval coerces through JsonRowConverter and compares UTF-8 bytes (superset contract)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import org.apache.spark.sql.sources._
    val ev = ConnectorFilterEval.eval(schema) _
    // textual-numeric JSON: the row materializes id=5, so the residual
    // KEEPS it — the source eval must agree (the raw-JSON eval dropped it)
    val textual = mapper.readTree("""{"id":"5","score":"2.5"}""")
    assert(ev(EqualTo("id", 5L), textual))
    assert(!ev(EqualTo("id", 6L), textual))
    assert(ev(GreaterThan("score", 2.0d.asInstanceOf[java.lang.Double]), textual))
    // supplementary characters: UTF-16 code-unit order says "𐀀"
    // (U+10000, surrogate pair) < "�", UTF-8 byte order says >.
    // Catalyst compares UTF8String bytes, so eval must too.
    val supp = mapper.readTree(
      s"""{"name":"${"\\uD800\\uDC00"}"}""")
    val boundary = "�"
    import org.apache.spark.unsafe.types.UTF8String
    assert(UTF8String.fromString("𐀀").compareTo(UTF8String.fromString(boundary)) > 0)
    assert("𐀀".compareTo(boundary) < 0) // the divergence being tested
    assert(ev(GreaterThan("name", boundary), supp))
    assert(!ev(LessThan("name", boundary), supp))
    // a present field the pruned schema lacks → keep (residual decides)
    val pruned = StructType(Seq(StructField("id", LongType)))
    val named = mapper.readTree("""{"id":1,"name":"a"}""")
    assert(ConnectorFilterEval.eval(pruned)(EqualTo("name", "z"), named))
  }

  test("unsupported filter shapes are not claimed (nested field, IN, null-equal)") {
    import org.apache.spark.sql.sources._
    val sup = ConnectorFilterEval.supported(schema) _
    assert(sup(EqualTo("id", 3L)) && sup(IsNotNull("name")))
    assert(!sup(EqualTo("tags.gen", "2")))     // nested path
    assert(!sup(In("id", Array(1L, 2L))))      // not a simple comparison
    assert(!sup(EqualTo("id", null)))          // null literal
    assert(!sup(EqualTo("nope", 1L)))          // unknown field
  }

  test("schema can come from a JSON Schema option (discovery-shaped)") {
    val cmds = Seq(fakeSegment(3, 1 to 2))
    val df = spark.read.format("graft-airbyte")
      .option("commands", commandsJson(cmds))
      .option("stream", "s1")
      .option("json_schema",
        """{"type":"object","properties":{"id":{"type":["null","integer"]},"name":{"type":["null","string"]}}}""")
      .load()
    assert(df.schema.fieldNames.toSeq == Seq("id", "name"))
    assert(df.count() == 2)
  }

  test("limit pushdown stops consuming and kills the child early") {
    // segment forks a 30 s sleep, emits 3 rows, then waits for the sleep
    // and writes a marker: a pushed LIMIT 2 must return without waiting
    // for EOF, and the killed child and its sleep never reach the marker
    val dir = Files.createTempDirectory("dsv2limit")
    val marker = dir.resolve("drained.marker")
    val sleepPid = dir.resolve("sleep.pid")
    val script = dir.resolve("c.sh")
    val lines = (1 to 3).map(i =>
      s"""echo '{"type":"RECORD","record":{"stream":"s1","data":{"id":$i,"seg":0,"name":"row$i","score":1.0}}}'""")
    Files.writeString(script,
      (("#!/bin/sh" +: s"sleep 30 & echo $$! > '$sleepPid'" +: lines) ++ Seq("wait", s"touch $marker"))
        .mkString("\n") + "\n")
    script.toFile.setExecutable(true)
    val df = spark.read.format("graft-airbyte")
      .option("commands", commandsJson(Seq(Seq("/bin/sh", script.toString))))
      .option("stream", "s1")
      .schema(schema)
      .load()
      .limit(2)
    // the pushed limit shows in the scan's description
    val scan = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scan.nonEmpty)
    assert(scan.head.scan.description().contains("PushedLimit: 2"),
      scan.head.scan.description())
    val t0 = System.nanoTime()
    val rows = df.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(rows.length == 2 && rows.map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(secs < 25.0, s"limit did not stop the drain: ${secs}s")
    graft.sources.MockConnectorE2eSpec.assertExits(sleepPid)
    assert(!Files.exists(marker), "child ran to completion despite the limit")
  }

  test("rows equal the tree-per-line reference rows on the protocol line table") {
    import graft.sources.MockConnectorE2eSpec.{rowProps, rowTable}
    val dir = Files.createTempDirectory("dsv2rows")
    Files.writeString(dir.resolve("out.jsonl"), rowTable.mkString("", "\n", "\n"))
    Files.writeString(dir.resolve("c.sh"), s"#!/bin/sh\ncat '${dir.resolve("out.jsonl")}'\n")
    val rowSchema = graft.schema.JsonSchemaConverter.toStructType(
      s"""{"type":"object","properties":$rowProps}""")
    val mine = spark.read.format("graft-airbyte")
      .option("commands", commandsJson(Seq(Seq("/bin/sh", dir.resolve("c.sh").toString))))
      .option("stream", "s")
      .schema(rowSchema)
      .load()
      .collect().toSeq

    // The reference: a tree of each whole line, its `record.stream` as
    // text, and the row of its `record.data` tree.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(rowSchema)
    val ref = rowTable.flatMap(l => scala.util.Try(mapper.readTree(l)).toOption)
      .filter(n => n.path("type").asText == "RECORD" && n.get("record").path("stream").asText == "s")
      .map(n => toRow(JsonRowConverter.toInternalRow(n.get("record").get("data"), rowSchema)))
    assert(ref.size == 20)
    assert(mine == ref)
  }

  test("200 KB of stderr neither blocks the task nor hides from the exit error") {
    val dir = Files.createTempDirectory("dsv2stderr")
    val pidFile = dir.resolve("pid")
    // `noise` lines of 100 bytes on stderr; 2000 are three times a 64 KiB pipe buffer
    def segment(name: String, noise: Int, exit: Int): Seq[String] = {
      val script = dir.resolve(name)
      Files.writeString(script,
        s"""#!/bin/sh
           |echo $$$$ > '$pidFile'
           |i=0
           |while [ $$i -lt $noise ]; do
           |  echo "${"w" * 80} line $$i of stderr" >&2
           |  i=$$((i + 1))
           |done
           |echo '{"type":"RECORD","record":{"stream":"s1","data":{"id":1,"seg":0,"name":"a","score":1.0}}}'
           |echo "disk on fire" >&2
           |exit $exit
           |""".stripMargin)
      Seq("/bin/sh", script.toString)
    }
    def load(cmd: Seq[String]) =
      spark.read.format("graft-airbyte").option("commands", commandsJson(Seq(cmd)))
        .option("stream", "s1").schema(schema).load()
    val ids = graft.sources.MockConnectorE2eSpec.bounded(pidFile) {
      load(segment("noisy.sh", 2000, 0)).collect().map(_.getLong(0)).toSeq
    }
    assert(ids == Seq(1L))
    val e = intercept[org.apache.spark.SparkException] {
      graft.sources.MockConnectorE2eSpec.bounded(pidFile)(load(segment("failing.sh", 20, 3)).collect())
    }
    assert(e.getMessage.contains("exited 3") && e.getMessage.contains("disk on fire"), e.getMessage)
  }

  test("limit is NOT pushed when a residual filter could drop rows") {
    val cmds = Seq(fakeSegment(4, 1 to 5))
    val df = spark.read.format("graft-airbyte")
      .option("commands", commandsJson(cmds))
      .option("stream", "s1")
      .schema(schema)
      .load()
      .filter(col("id") >= 3L)
      .limit(2)
    val scan = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scan.nonEmpty)
    // every filter is returned as residual, so Spark must keep the limit
    // above the filter — a pushed limit here could under-deliver
    assert(!scan.head.scan.description().contains("PushedLimit"),
      scan.head.scan.description())
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
  }
}
