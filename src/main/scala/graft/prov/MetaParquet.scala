package graft.prov

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Driver-side writer for the store's SMALL metadata tables
  * (executions, tasks, transformation_groups, file_group_references).
  * These hold a handful of rows per execution; writing them through a
  * Spark job costs ~0.3s of scheduler/commit overhead per table per
  * session — pure fixed cost on every `close()`. This writes the same
  * byte layout Spark's writer produces (3-level LIST groups,
  * TIMESTAMP(MICROS) int64, path-embedded partition value) directly
  * from the driver, so readers — `spark.read.parquet` with partition
  * discovery, DuckDB, `ProvenanceQueries` — see an identical table.
  *
  * The reference pays this cost differently: per-row Cassandra inserts
  * from the driver at finish (DataflowProvenance.scala:60-98).
  *
  * Each table's columns are declared once ([[Table]]): the writer lays
  * out its files from them, and [[ProvenanceQueries]] reads with the
  * Spark schema they derive (no footer-inference job), either through
  * Spark or, for one execution's partition, on the driver ([[read]]).
  */
private[prov] object MetaParquet {

  sealed trait FT
  case object FString extends FT
  case object FBool extends FT
  case object FTimestamp extends FT
  case object FStringList extends FT

  /** The schema partition discovery infers for a store table: the
    * file's data columns, all nullable (every writer declares them
    * optional), then the path-embedded `execution_id`.
    */
  def partitioned(data: Seq[StructField]): StructType =
    StructType(data.map(_.copy(nullable = true)) :+
      StructField("execution_id", StringType))

  /** One driver-written store table: its directory under the store and
    * its data columns in file order.
    */
  final case class Table(name: String, fields: Seq[(String, FT)]) {
    def dir(storeDir: String, executionId: String): String =
      s"$storeDir/$name/execution_id=$executionId"

    lazy val schema: StructType = partitioned(fields.map { case (n, ft) =>
      StructField(n, ft match {
        case FString     => StringType
        case FBool       => BooleanType
        case FTimestamp  => TimestampType
        case FStringList => ArrayType(StringType)
      })
    })
  }

  val Executions: Table = Table("executions", Seq(
    "app_name" -> FString, "start_time" -> FTimestamp,
    "end_time" -> FTimestamp))

  val Tasks: Table = Table("tasks", Seq(
    "task_id" -> FString, "description" -> FString,
    "transformation_type" -> FString, "using_default_schema" -> FBool,
    "schema_fields" -> FStringList, "has_data_in_repository" -> FBool,
    "is_ignored" -> FBool, "dependencies" -> FStringList))

  val TransformationGroups: Table = Table("transformation_groups", Seq(
    "group_id" -> FString, "name" -> FString,
    "init_tasks" -> FStringList, "intermediary_tasks" -> FStringList,
    "finish_task" -> FString))

  val FileGroupReferences: Table = Table("file_group_references", Seq(
    "element_id" -> FString, "folder_path" -> FString))

  private def messageType(fields: Seq[(String, FT)]): MessageType = {
    val b = Types.buildMessage()
    fields.foreach { case (name, ft) =>
      ft match {
        case FString =>
          b.addField(Types.optional(PrimitiveType.PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType()).named(name))
        case FBool =>
          b.addField(Types.optional(PrimitiveType.PrimitiveTypeName.BOOLEAN)
            .named(name))
        case FTimestamp =>
          b.addField(Types.optional(PrimitiveType.PrimitiveTypeName.INT64)
            .as(LogicalTypeAnnotation.timestampType(true,
              LogicalTypeAnnotation.TimeUnit.MICROS)).named(name))
        case FStringList =>
          b.addField(Types.optionalList()
            .optionalElement(PrimitiveType.PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType()).named(name))
      }
    }
    b.named("spark_schema")
  }

  private final class RowWriteSupport(fields: Seq[(String, FT)])
      extends WriteSupport[Seq[Any]] {
    private var rc: RecordConsumer = _
    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(
        messageType(fields), java.util.Collections.emptyMap[String, String]())
    override def prepareForWrite(r: RecordConsumer): Unit = rc = r
    override def getName: String = "graft-meta"
    override def write(row: Seq[Any]): Unit = {
      require(row.length == fields.length,
        s"row arity ${row.length} != schema arity ${fields.length}")
      rc.startMessage()
      fields.zip(row).zipWithIndex.foreach { case (((name, ft), v0), i) =>
        val v = v0 match {
          case Some(x) => x
          case None    => null
          case x       => x
        }
        if (v != null) {
          rc.startField(name, i)
          ft match {
            case FString =>
              rc.addBinary(Binary.fromString(v.asInstanceOf[String]))
            case FBool =>
              rc.addBoolean(v.asInstanceOf[Boolean])
            case FTimestamp =>
              val ts = v.asInstanceOf[java.sql.Timestamp]
              rc.addLong(ts.getTime / 1000 * 1000000L + ts.getNanos / 1000)
            case FStringList =>
              // standard 3-level LIST; empty list = empty outer group
              rc.startGroup()
              val xs = v.asInstanceOf[Seq[String]]
              if (xs.nonEmpty) {
                rc.startField("list", 0)
                xs.foreach { s =>
                  rc.startGroup()
                  rc.startField("element", 0)
                  rc.addBinary(Binary.fromString(String.valueOf(s)))
                  rc.endField("element", 0)
                  rc.endGroup()
                }
                rc.endField("list", 0)
              }
              rc.endGroup()
          }
          rc.endField(name, i)
        }
      }
      rc.endMessage()
    }
  }

  private final class Builder(out: HadoopOutputFile, fields: Seq[(String, FT)])
      extends ParquetWriter.Builder[Seq[Any], Builder](out) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[Seq[Any]] =
      new RowWriteSupport(fields)
  }

  /** Append `rows` as one parquet file inside `dir` (created if needed;
    * typically a `table/execution_id=<id>` partition directory). The
    * file lands via temp + atomic rename, and the temp name is
    * DOT-PREFIXED — the part readers actually rely on: Spark's file
    * index (and DuckDB's `*.parquet` glob) hides `.`/`_`-prefixed
    * names but NOT a visible name with an `.inprogress` SUFFIX, so
    * the pre-round-16 `part-…parquet.inprogress` temp was a torn,
    * reader-visible parquet file whenever a crash hit mid-close
    * (found by the round-16 prov audit — the exact hidden-vs-visible
    * staging rule [[ElementSideWriter]] already followed with its
    * `_element_staging/` root). Any dot-prefixed debris an earlier
    * crash left in THIS directory sweeps here first — safe because a
    * partition directory belongs to one execution (ids are unique),
    * and within a driver the meta appends are sequential.
    */
  def append(conf: Configuration, dir: String,
             fields: Seq[(String, FT)], rows: Seq[Seq[Any]]): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    fs.mkdirs(d)
    fs.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".part-meta-") && n.endsWith(".inprogress"))
        fs.delete(st.getPath, false)
    }
    val name = s"part-meta-${ProvIds.newId()}.parquet"
    val tmp = new Path(d, "." + name + ".inprogress")
    val fin = new Path(d, name)
    val w = new Builder(HadoopOutputFile.fromPath(tmp, conf), fields)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach(w.write)
    finally w.close()
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"meta table write failed: $tmp -> $fin")
  }

  /** The read counterpart of [[append]]: one execution's partition of
    * `table` as a LOCAL frame (a `LocalRelation` in `table.schema`),
    * read through parquet-hadoop on the driver — collecting it, or
    * projecting, filtering or broadcasting it, runs no Spark job. Reads
    * every visible `.parquet` file in the partition, so Spark-written
    * partitions from older stores read the same; a missing partition
    * is an empty frame.
    */
  def read(spark: SparkSession, storeDir: String, table: Table,
           executionId: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = visibleFiles(conf, table.dir(storeDir, executionId)).flatMap { st =>
      val reader = ParquetReader.builder(new GroupReadSupport(), st.getPath)
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null)
        .map(g => Row.fromSeq(
          table.fields.map { case (n, ft) => value(g, n, ft) } :+ executionId))
        .toVector
      finally reader.close()
    }
    spark.createDataFrame(rows.asJava, table.schema)
  }

  /** The reader-visible `.parquet` files of one partition directory, in
    * name order (`.`/`_`-prefixed staging and marker files are hidden,
    * as Spark's file index hides them); a missing directory has none.
    */
  def visibleFiles(conf: Configuration, dir: String): Seq[FileStatus] = {
    val d = new Path(dir)
    try d.getFileSystem(conf).listStatus(d).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith(".") && !n.startsWith("_") &&
        n.endsWith(".parquet")
    }.sortBy(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** A standard 3-level LIST field of `g` (outer group → repeated `list`
    * → optional `element`), each present element decoded by `elem`; an
    * absent element is null, an absent list is null, an empty list is
    * empty.
    */
  def list[A <: AnyRef](g: Group, name: String, elem: (Group, Int) => A): Seq[A] =
    if (!g.getType.containsField(name) || g.getFieldRepetitionCount(name) == 0) null
    else {
      val l = g.getGroup(name, 0)
      (0 until l.getFieldRepetitionCount(0)).map { i =>
        val e = l.getGroup(0, i)
        if (e.getFieldRepetitionCount(0) == 0) null.asInstanceOf[A] else elem(e, 0)
      }
    }

  private def value(g: Group, name: String, ft: FT): Any =
    if (!g.getType.containsField(name) || g.getFieldRepetitionCount(name) == 0) null
    else ft match {
      case FString => g.getString(name, 0)
      case FBool   => g.getBoolean(name, 0)
      case FTimestamp =>
        val us = g.getLong(name, 0)
        val ts = new Timestamp(Math.floorDiv(us, 1000L))
        ts.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
        ts
      case FStringList => list(g, name, _.getString(_, 0))
    }
}
