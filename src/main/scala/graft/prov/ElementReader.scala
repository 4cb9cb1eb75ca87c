package graft.prov

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{MessageType, Type}

/** Driver-side reader of one execution's element files — the read
  * counterpart of [[ElementSideWriter]], in the [[MetaParquet.read]]
  * pattern: parquet-hadoop on the driver, so a read runs no Spark job.
  * It reads every visible file of the `data_elements/execution_id=<e>`
  * partition whatever wrote it (side-captured typed and relational
  * tasks, Spark-appended stats and extras, streaming micro-batches,
  * older stores): each file
  * is projected through its OWN footer schema, so writer-specific
  * schema details never reach the caller.
  *
  * Callers bound the read first with [[underFence]], which looks only
  * at footer row counts.
  */
private[prov] object ElementReader {

  /** The execution's visible element files in name order, when their
    * footer row counts sum to at most `max`; None as soon as the running
    * sum passes `max` — no further footer is opened and no data page is
    * read.
    */
  def underFence(conf: Configuration, storeDir: String, execId: String,
                 max: Long): Option[Seq[FileStatus]] = {
    val files = MetaParquet.visibleFiles(conf, ElementSideWriter.destDir(storeDir, execId))
    // built once from the caller's conf: the default options builder
    // creates a fresh Hadoop Configuration per file (~10 ms each)
    val options = HadoopReadOptions.builder(conf).build()
    var rows = 0L
    val it = files.iterator
    while (rows <= max && it.hasNext) {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(it.next(), conf), options)
      try rows += r.getRecordCount finally r.close()
    }
    if (rows <= max) Some(files) else None
  }

  /** Stream the rows of `files` in file order as [[ElementRow]]s of
    * `execId`; only `columns` (of task_id, element_id, values, deps) are
    * read, the others are null.
    */
  def foreach(conf: Configuration, files: Seq[FileStatus], execId: String,
              columns: Seq[String])(f: ElementRow => Unit): Unit = {
    val options = HadoopReadOptions.builder(conf).build()
    files.foreach { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), options)
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        val projection = new MessageType(schema.getName,
          columns.filter(schema.containsField)
            .map[Type](c => schema.getType(schema.getFieldIndex(c))).asJava)
        r.setRequestedSchema(projection)
        val io = new ColumnIOFactory().getColumnIO(projection, schema)
        var pages = r.readNextRowGroup()
        while (pages != null) {
          val records = io.getRecordReader(pages, new GroupRecordConverter(projection))
          var i = 0L
          while (i < pages.getRowCount) { f(row(execId, records.read())); i += 1 }
          pages = r.readNextRowGroup()
        }
      } finally r.close()
    }
  }

  private def row(execId: String, g: Group): ElementRow = {
    def string(name: String): String =
      if (!g.getType.containsField(name) || g.getFieldRepetitionCount(name) == 0) null
      else g.getString(name, 0)
    ElementRow(execId, string("task_id"), string("element_id"),
      MetaParquet.list(g, "values", (e, i) =>
        MetaParquet.list(e, e.getType.getFieldName(i), _.getString(_, 0))),
      MetaParquet.list(g, "deps", _.getString(_, 0)))
  }
}
