package graft.sources.dsv2

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.protocol.AirbyteMessage
import graft.sources.ConnectorProcess
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 face of the connector source:
  *
  * {{{
  * spark.read.format("graft-airbyte")
  *   .option("commands", """[["/bin/sh","seg0.sh"],["/bin/sh","seg1.sh"]]""")
  *   .option("stream", "s1")
  *   .schema(recordSchema)          // or .option("json_schema", <JSON Schema>)
  *   .load()
  * }}}
  *
  * Each command segment becomes ONE `InputPartition`, so N connector
  * invocations execute as N Spark tasks streaming their stdout lazily
  * through the one connector lifecycle, [[graft.sources.ConnectorProcess]]
  * — the distributed path of the connector source, through the
  * engine-native connector API, which buys: catalog integration,
  * genuine `SupportsPushDownRequiredColumns` (deselected record fields are
  * never materialized into rows — stream-map projection pushed INTO the
  * source, the DSv2 analog of the reference's stream-granularity
  * selection), best-effort `SupportsPushDownFilters` (supported
  * predicates drop rows at the connector boundary before row conversion;
  * Spark re-applies every filter post scan, so the early drop can never
  * change results), `SupportsPushDownLimit` (a `LIMIT n` stops consuming
  * and kills each connector child after n records instead of draining
  * the stream — Spark only plans this pushdown when no post-scan filters
  * remain, so the early stop is exact, and `isPartiallyPushed` keeps the
  * global Limit node for the cross-partition cap), and plan visibility
  * (`BatchScan graft-airbyte`).
  */
class AirbyteConnectorDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-airbyte"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("json_schema"))
      .map(graft.schema.JsonSchemaConverter.toStructType)
      .getOrElse(throw new IllegalArgumentException(
        "graft-airbyte: provide .schema(...) or option json_schema"))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ConnectorTable(schema, properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = true
}

final class ConnectorTable(schema: StructType, properties: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"graft-airbyte(${properties.getOrElse("stream", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ConnectorScanBuilder(schema, options.asCaseSensitiveMap().asScala.toMap ++ properties)
}

final class ConnectorScanBuilder(fullSchema: StructType, options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1

  /** Limit pushdown: each partition reader stops consuming (and kills
    * its connector child) after `l` emitted rows. Spark's planner only
    * pushes a limit when no post-scan filters remain, so every emitted
    * row survives to the result and the early stop is exact;
    * `isPartiallyPushed` (default true) keeps the global Limit for the
    * cross-partition cap.
    */
  override def pushLimit(l: Int): Boolean = {
    limit = l
    true
  }

  /** Column pruning pushdown: only the requested record fields are parsed
    * into rows on the executors.
    */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
    ()
  }

  /** Filter pushdown, BEST-EFFORT: supported predicates are evaluated on
    * the raw JSON record in the partition reader, so non-matching rows
    * are dropped at the connector boundary before row conversion. Every
    * filter is also RETURNED as residual — Spark re-applies them post
    * scan — so the source-side drop is purely an optimization and a
    * mismatch between the JSON-level and Catalyst-level evaluation can
    * never change results (the conservative contract the parquet source
    * uses for its own pushdown).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(ConnectorFilterEval.supported(fullSchema))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"graft-airbyte stream=${options.getOrElse("stream", "")} " +
        s"PushedFilters: [${pushed.mkString(", ")}]" +
        (if (limit >= 0) s" PushedLimit: $limit" else "")

    override def planInputPartitions(): Array[InputPartition] = {
      val mapper = new ObjectMapper()
      val commands: Seq[Seq[String]] = options.get("commands") match {
        case Some(json) =>
          mapper.readTree(json).elements().asScala.map(cmd =>
            cmd.elements().asScala.map(_.asText).toSeq).toSeq
        case None => throw new IllegalArgumentException("graft-airbyte: option commands required")
      }
      JsonRowConverter.validateSupported(required)
      commands.map(cmd =>
        ConnectorInputPartition(cmd, options.getOrElse("stream", ""), pushed.toSeq, limit)).toArray
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new ConnectorReaderFactory(required)
  }
}

/** JSON-level evaluation of pushed filters — the executor-side half of the
  * best-effort pushdown. `supported` admits only top-level fields of
  * directly-comparable scalar types compared to string/number/boolean
  * literals (exactly what a Singer RECORD carries at depth 1).
  *
  * `eval` must be a provable SUPERSET of the Catalyst residual filter:
  * dropping a row the residual would keep changes results, keeping one it
  * would drop only wastes a few cycles. Two rules enforce that:
  *
  *   1. The field value is coerced through the SAME
  *      [[JsonRowConverter]] code path that materializes the row, so the
  *      source-side comparand is bit-identical to what Catalyst will see
  *      (a textual-numeric `"5"` coerces to 5 for a LongType field here
  *      exactly as it does in the row; the old raw-JSON eval dropped it).
  *   2. Any evaluation that cannot be mirrored exactly — conversion
  *      throwing, a literal type not matching the field type — returns
  *      KEEP, never drop. Only a definitively null/missing field short-
  *      circuits to drop, because its row value is null and SQL
  *      three-valued logic fails every comparison on null.
  *
  * Strings compare as [[UTF8String]] (UTF-8 byte order, Catalyst's
  * ordering) — `String.compareTo`'s UTF-16 code-unit order flips sign on
  * supplementary characters.
  */
object ConnectorFilterEval {
  def supported(schema: StructType)(f: Filter): Boolean = f match {
    case EqualTo(a, v)            => simple(schema, a, v)
    case GreaterThan(a, v)        => simple(schema, a, v)
    case GreaterThanOrEqual(a, v) => simple(schema, a, v)
    case LessThan(a, v)           => simple(schema, a, v)
    case LessThanOrEqual(a, v)    => simple(schema, a, v)
    case IsNotNull(a)             => topLevel(schema, a)
    case _                        => false
  }

  private def topLevel(schema: StructType, a: String): Boolean =
    !a.contains(".") && schema.fieldNames.contains(a)

  /** Types whose Catalyst comparison this eval mirrors exactly. */
  private def comparable(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | LongType | IntegerType | ShortType |
        ByteType | DoubleType | FloatType | _: DecimalType => true
    case _ => false
  }

  private def simple(schema: StructType, a: String, v: Any): Boolean =
    topLevel(schema, a) && comparable(schema(a).dataType) && (v match {
      case _: String | _: java.lang.Boolean | _: java.lang.Number => true
      case _ => false
    })

  private sealed trait Res
  private case object NullField extends Res // row value WILL be null → drop-safe
  private case object Unknown extends Res   // not exactly mirrorable → keep
  private final case class Cmp(c: Int) extends Res

  def eval(schema: StructType)(f: Filter, data: JsonNode): Boolean = {
    def decide(a: String, v: Any)(op: Int => Boolean): Boolean =
      cmp(schema, data, a, v) match {
        case Cmp(c)    => op(c)
        case NullField => false
        case Unknown   => true
      }
    f match {
      case IsNotNull(a) =>
        // node-level check is a superset: a non-null node that converts
        // to null (e.g. unparseable temporal text) is kept here and
        // dropped by the residual
        val n = data.get(a); n != null && !n.isNull
      case EqualTo(a, v)            => decide(a, v)(_ == 0)
      case GreaterThan(a, v)        => decide(a, v)(_ > 0)
      case GreaterThanOrEqual(a, v) => decide(a, v)(_ >= 0)
      case LessThan(a, v)           => decide(a, v)(_ < 0)
      case LessThanOrEqual(a, v)    => decide(a, v)(_ <= 0)
      case _                        => true // unsupported filters never reach partitions
    }
  }

  /** -0.0 orders equal to 0.0 in Catalyst; Double.compare says less. */
  private def norm(d: Double): Double = if (d == 0.0d) 0.0d else d
  private def norm(f: Float): Float = if (f == 0.0f) 0.0f else f

  private def cmp(schema: StructType, data: JsonNode, a: String, v: Any): Res = {
    val n = data.get(a)
    if (n == null || n.isNull) return NullField
    val dt = schema.fields.find(_.name == a) match {
      case Some(f) => f.dataType
      case None    => return Unknown // pruned past the filter column: keep
    }
    val converted =
      try JsonRowConverter.convertScalar(n, dt)
      catch { case _: Exception => return Unknown }
    if (converted == null) return NullField
    (converted, v) match {
      case (u: UTF8String, s: String) =>
        Cmp(u.compareTo(UTF8String.fromString(s)))
      case (b: java.lang.Boolean, bv: java.lang.Boolean) =>
        Cmp(java.lang.Boolean.compare(b, bv))
      case (d: java.lang.Double, num: java.lang.Number) =>
        Cmp(java.lang.Double.compare(norm(d), norm(num.doubleValue)))
      case (fl: java.lang.Float, num: java.lang.Number) =>
        Cmp(java.lang.Float.compare(norm(fl), norm(num.floatValue)))
      case (dec: Decimal, _) =>
        v match {
          case bd: java.math.BigDecimal => Cmp(dec.toJavaBigDecimal.compareTo(bd))
          case bd: scala.math.BigDecimal => Cmp(dec.toJavaBigDecimal.compareTo(bd.bigDecimal))
          case num: java.lang.Number =>
            Cmp(dec.toJavaBigDecimal.compareTo(new java.math.BigDecimal(num.toString)))
          case _ => Unknown
        }
      case (i: java.lang.Number, num: java.lang.Number) =>
        // integral field types (Long/Int/Short/Byte): exact decimal compare
        // so a fractional literal (never pushed by Catalyst, but defended)
        // cannot mis-order through truncation
        Cmp(new java.math.BigDecimal(i.toString)
          .compareTo(new java.math.BigDecimal(num.toString)))
      case _ => Unknown
    }
  }
}

final case class ConnectorInputPartition(
    command: Seq[String],
    stream: String,
    filters: Seq[Filter] = Seq.empty,
    limit: Int = -1)
    extends InputPartition

final class ConnectorReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ConnectorPartitionReader(partition.asInstanceOf[ConnectorInputPartition], schema)
}

/** Streams one connector child's stdout through a [[ConnectorProcess]],
  * converting RECORD messages of the selected stream to InternalRows of the
  * PRUNED schema: each such RECORD builds one tree of its `data` alone,
  * which the pushed filters and the row conversion share. A TRACE ERROR or
  * a non-zero exit (with the stderr tail) fails the task. Spark closes
  * every reader from a task-completion listener, and closing kills the
  * connector and its descendants.
  */
final class ConnectorPartitionReader(partition: ConnectorInputPartition, schema: StructType)
    extends PartitionReader[InternalRow] {

  private val connector = new ConnectorProcess(partition.command)
  private var current: InternalRow = _
  private var emitted: Long = 0L

  override def next(): Boolean = {
    current = null
    // pushed limit reached: stop consuming and kill the child instead of
    // draining the rest of the stream (exact — limits are only pushed
    // when no post-scan filter could drop an emitted row)
    if (partition.limit >= 0 && emitted >= partition.limit) {
      connector.close()
      return false
    }
    while (current == null && connector.messages.hasNext) connector.messages.next() match {
      case r: AirbyteMessage.Record if partition.stream.isEmpty || r.stream.contains(partition.stream) =>
        val data = r.dataTree
        if (partition.filters.forall(ConnectorFilterEval.eval(schema)(_, data)))
          current = JsonRowConverter.toInternalRow(data, schema)
      case m: AirbyteMessage.Tree =>
        m.traceError.foreach(e => throw new RuntimeException(s"connector error: $e"))
      case _ =>
    }
    if (current != null) emitted += 1
    current != null
  }

  override def get(): InternalRow = current

  override def close(): Unit = connector.close()
}
