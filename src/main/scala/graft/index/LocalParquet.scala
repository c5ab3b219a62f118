package graft.index

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Driver-side parquet reads through parquet-mr, with no Spark job: the
  * small tables an engine loads whole (tombstones, stop words, fields,
  * tokenizer settings, a small dictionary) and the point lookups of a
  * response page ([[KeyIndex]]). A Spark read of the same rows costs a
  * job — a driver round trip and a task per file — which dominates when
  * the rows fit in a page (the reference's `documents` store is an
  * LMDB point lookup, index.rs:175-176).
  *
  * Rows are built from the writer's `StructType`, nulls kept; a column
  * absent from a file reads as null (Spark's rule for a given schema).
  * Only string, int, long and array<string> columns are read: any other
  * type fails before a file is opened. */
object LocalParquet {

  /** The data files of table `dir` by Spark's listing rules: names
    * starting with `_` or `.` are hidden, and subdirectories (the
    * `key=value` partitions) are listed recursively. Empty when `dir`
    * does not exist. */
  def dataFiles(conf: Configuration, dir: String): Seq[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def visible(s: FileStatus) = !s.getPath.getName.startsWith("_") &&
      !s.getPath.getName.startsWith(".")
    def walk(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.filter(visible).flatMap(s =>
      if (s.isDirectory) walk(s.getPath) else Seq(s))
    if (fs.exists(root)) walk(root).sortBy(_.getPath.toString) else Nil
  }

  /** Rows in table `dir`: the sum of its footers' row counts. */
  def rowCount(conf: Configuration, dir: String): Long =
    dataFiles(conf, dir).map { s =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
      try r.getRecordCount finally r.close()
    }.sum

  /** Every row of table `dir` (none when it does not exist), in file
    * order. For tables the driver holds whole; the files are read in
    * parallel on the common fork-join pool, so a multi-file table (a
    * small-mode dictionary) loads as fast as a Spark collect would. */
  def readAll(conf: Configuration, dir: String, schema: StructType): Seq[Row] = {
    checkTypes(schema)
    dataFiles(conf, dir).asJava.parallelStream()
      .map[Seq[Row]](s => read(conf, s.getPath, schema, FilterCompat.NOOP))
      .collect(java.util.stream.Collectors.toList[Seq[Row]]()).asScala.toSeq.flatten
  }

  /** Footer index of table `dir` on its int column `key`: each data
    * file with the [min, max] of `key` in each of its row groups, read
    * once on first use. A lookup opens only the files whose ranges hold
    * a requested key, and its `key IN (…)` filter prunes row groups by
    * their statistics, pages by the column index, then single records.
    * Holds O(files × row groups) pairs, never rows. The listing is as
    * old as the index, so the owner must be a snapshot of the table
    * (a [[graft.search.SearchEngine]]). */
  final class KeyIndex(conf: Configuration, dir: String, key: String) {
    private lazy val ranges: Seq[(Path, Seq[(Int, Int)])] =
      dataFiles(conf, dir).map { s =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
        try s.getPath -> r.getFooter.getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map { b =>
          val st = b.getColumns.asScala.find(_.getPath.toDotString == key)
            .map(_.getStatistics).filter(st => st != null && st.hasNonNullValue)
          st.fold((Int.MinValue, Int.MaxValue))(st =>
            (st.genericGetMin.asInstanceOf[Integer].intValue,
              st.genericGetMax.asInstanceOf[Integer].intValue))
        } finally r.close()
      }

    /** key → row for the rows whose `key` is in `ids` (`schema` must
      * start with `key`); absent ids have no entry. */
    def rows(ids: Seq[Int], schema: StructType): Map[Int, Row] = {
      require(schema.head.name == key, s"lookup schema must start with '$key'")
      checkTypes(schema)
      val want = ids.distinct
      if (want.isEmpty) Map.empty
      else ranges.flatMap { case (file, rgs) =>
        val mine = want.filter(id => rgs.exists { case (lo, hi) => lo <= id && id <= hi })
        if (mine.isEmpty) Nil
        else read(conf, file, schema, FilterCompat.get(FilterApi.in(FilterApi.intColumn(key),
          mine.map(Int.box).toSet.asJava)))
      }.map(r => r.getInt(0) -> r).toMap
    }
  }

  private def checkTypes(schema: StructType): Unit = schema.foreach { f =>
    f.dataType match {
      case StringType | IntegerType | LongType | ArrayType(StringType, _) =>
      case t => throw new IllegalArgumentException(s"column '${f.name}' has type " +
        s"${t.simpleString}: the driver-side reader reads string, int, long and array<string>")
    }
  }

  /** `schema`'s columns of the records of `file` that pass `filter`. */
  private def read(conf: Configuration, file: Path, schema: StructType,
                   filter: FilterCompat.Filter): Seq[Row] = {
    val support = new GroupReadSupport {
      override def init(ctx: InitContext): ReadSupport.ReadContext = {
        val fileSchema = ctx.getFileSchema
        val cols: Seq[Type] = schema.fieldNames.toSeq.filter(fileSchema.containsField)
          .map(n => fileSchema.getType(fileSchema.getFieldIndex(n)))
        new ReadSupport.ReadContext(new MessageType(fileSchema.getName, cols.asJava))
      }
    }
    val reader = ParquetReader.builder(support, file).withConf(conf).withFilter(filter).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null)
      .map(g => new GenericRowWithSchema(schema.fields.map(value(g, _)), schema): Row).toVector
    finally reader.close()
  }

  private def value(g: Group, f: StructField): Any =
    if (!g.getType.containsField(f.name) || g.getFieldRepetitionCount(f.name) == 0) null
    else f.dataType match {
      case StringType => g.getString(f.name, 0)
      case IntegerType => g.getInteger(f.name, 0)
      case LongType => g.getLong(f.name, 0)
      case _ => // array<string>: Spark's 3-level LIST, list.element
        val list = g.getGroup(f.name, 0)
        (0 until list.getFieldRepetitionCount(0)).map { i =>
          val e = list.getGroup(0, i)
          if (e.getFieldRepetitionCount(0) == 0) null else e.getString(0, 0)
        }
    }
}
