package graft.prov

import java.sql.Timestamp

/** Provenance data model — mirrors the reference's Cassandra keyspace
  * `dfanalyzer` (reference: CassandraDatabaseScript.cql:1-66) re-expressed
  * as Spark-queryable parquet tables partitioned by execution_id
  * (SURVEY §1.2). Strings-only value grids match the reference
  * (DataElement.scala:146-155).
  */

/** One run of an application (reference: Execution.scala:6-12). */
final case class ExecutionRow(
    execution_id: String,
    app_name: String,
    start_time: Timestamp,
    end_time: Option[Timestamp])

/** Provenance node for one transformation (reference: Task.scala:12-53). */
final case class TaskRow(
    execution_id: String,
    task_id: String,
    description: String,
    transformation_type: String,
    using_default_schema: Boolean,
    schema_fields: Seq[String],
    has_data_in_repository: Boolean,
    is_ignored: Boolean,
    dependencies: Seq[String])

/** One record's provenance + projected values. Physically one table;
  * the reference's `DataElement` + `DependenciesOfDataElement` tables
  * (CassandraDatabaseScript.cql:34-39,56-62) are exposed as views over it
  * — one distributed write instead of two.
  */
final case class ElementRow(
    execution_id: String,
    task_id: String,
    element_id: String,
    values: Seq[Seq[String]],
    deps: Seq[String])

/** User-declared composite operator
  * (reference: TransformationGroup.scala:6-33).
  */
final case class TransformationGroupRow(
    execution_id: String,
    group_id: String,
    name: String,
    init_tasks: Seq[String],
    intermediary_tasks: Seq[String],
    finish_task: String)

/** Pointer from a FileGroup data element into the artifact repository
  * (reference: CassandraDatabaseScript.cql:42-47).
  */
final case class FileGroupReferenceRow(
    execution_id: String,
    element_id: String,
    folder_path: String)

/** The 28 operator kinds of the reference
  * (reference: TransformationType.scala:3-35), mirrored 1:1.
  */
object TransformationType {
  val MAP = "MAP"
  val FLAT_MAP = "FLAT_MAP"
  val UNION = "UNION"
  val FILTER = "FILTER"
  val REDUCE_BY_KEY = "REDUCE_BY_KEY"
  val DISTINCT = "DISTINCT"
  val INTERSECTION = "INTERSECTION"
  val CARTESIAN = "CARTESIAN"
  val GROUP_BY_KEY = "GROUP_BY_KEY"
  val MAP_TO_PAIR = "MAP_TO_PAIR"
  val PIPE = "PIPE"
  val JOIN = "JOIN"
  val SUBTRACT = "SUBTRACT"
  val CO_GROUPED = "CO_GROUPED"
  val LEFT_OUTER_JOIN = "LEFT_OUTER_JOIN"
  val RIGHT_OUTER_JOIN = "RIGHT_OUTER_JOIN"
  val FULL_OUTER_JOIN = "FULL_OUTER_JOIN"
  val AGGREGATE_BY_KEY = "AGGREGATE_BY_KEY"
  val MAP_PARTITIONS_WITH_INDEX = "MAP_PARTITIONS_WITH_INDEX"
  val ZIP = "ZIP"
  val ZIPPED_PARTITIONS_BASE_RDD = "ZIPPED_PARTITIONS_BASE_RDD"
  val MAP_VALUES = "MAP_VALUES"
  val SHUFFLED = "SHUFFLED"
  val SORT_BY_KEY = "SORT_BY_KEY"
  val GLOM = "GLOM"
  val RANGE = "RANGE"
  val COALESCED = "COALESCED"
  val FILE_GROUP = "FILE_GROUP"
  val UNKNOWN = "UNKNOWN"

  val all: Seq[String] = Seq(
    MAP, FLAT_MAP, UNION, FILTER, REDUCE_BY_KEY, DISTINCT, INTERSECTION,
    CARTESIAN, GROUP_BY_KEY, MAP_TO_PAIR, PIPE, JOIN, SUBTRACT, CO_GROUPED,
    LEFT_OUTER_JOIN, RIGHT_OUTER_JOIN, FULL_OUTER_JOIN, AGGREGATE_BY_KEY,
    MAP_PARTITIONS_WITH_INDEX, ZIP, ZIPPED_PARTITIONS_BASE_RDD, MAP_VALUES,
    SHUFFLED, SORT_BY_KEY, GLOM, RANGE, COALESCED, FILE_GROUP, UNKNOWN)
}

/** One record wrapped with provenance — the Spark-native `DataElement`
  * (reference: DataElement.scala:89-183). Unlike the reference, this is a
  * plain case class flowing through a Dataset: Tungsten-encoded, no
  * iterator-signature fork.
  *
  * `deps` are the element ids this record was derived from. For records
  * produced by an IGNORED task, `id` is never referenced downstream —
  * children splice through to `deps` (reference: DataElement.scala:34-46).
  */
final case class ProvRecord[T](id: String, deps: Seq[String], value: T)

/** Record-id generation. The reference uses time-based v1 UUIDs with a
  * per-worker LSB offset that can collide (DataElement.scala:78-86;
  * SURVEY §7 risks). Here: random v4 UUIDs drawn from ThreadLocalRandom —
  * no coordination, no SecureRandom contention at 100 TB scale; collision
  * probability over 10^13 ids is ~10^-12.
  */
object ProvIds extends Serializable {
  def newId(): String = {
    val r = java.util.concurrent.ThreadLocalRandom.current()
    val hi = (r.nextLong() & 0xffffffffffff0fffL) | 0x0000000000004000L // version 4
    val lo = (r.nextLong() & 0x3fffffffffffffffL) | 0x8000000000000000L // variant 10
    new java.util.UUID(hi, lo).toString
  }
}

/** User-supplied projection of a record into a named string grid
  * (reference: schema/DataElementSchema.scala:3-8). Must be Serializable:
  * it runs inside executors, in the side-capture wrapper.
  */
trait DataElementSchema[T] extends Serializable {
  def fieldNames: Seq[String]
  def project(value: T): Seq[Seq[String]]
}

/** Single-line `;`-style splitter (reference: SingleLineSchema.scala:29-35). */
class SingleLineSchema[T](separator: String, names: String*)
    extends DataElementSchema[T] {
  def fieldNames: Seq[String] = names
  def project(v: T): Seq[Seq[String]] =
    Seq(String.valueOf(v).split(separator, -1).toSeq)
}

/** Default schemas auto-picked by runtime value
  * (reference: RDD.scala:179-191 + schema/Default*.scala).
  */
object DefaultSchemas {
  /** pair → ("Key","Value"); array → element grid; fallback → ("Value"). */
  def forValue[T]: DataElementSchema[T] = new DataElementSchema[T] {
    def fieldNames: Seq[String] = Seq("Value")
    def project(v: T): Seq[Seq[String]] = v match {
      case (k, v2)      => Seq(Seq(String.valueOf(k), String.valueOf(v2)))
      case a: Array[_]  => Seq(a.toSeq.map(String.valueOf(_)))
      case s: Seq[_]    => Seq(s.map(String.valueOf(_)))
      case other        => Seq(Seq(String.valueOf(other)))
    }
  }
  def pairFieldNames: Seq[String] = Seq("Key", "Value")
}
