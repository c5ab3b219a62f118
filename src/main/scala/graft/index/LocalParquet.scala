package graft.index

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, Operators}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Driver-side parquet reads through parquet-mr, with no Spark job: the
  * small tables an engine loads whole (tombstones, stop words, fields,
  * tokenizer settings), a response page's point lookups and the
  * dictionary's pruned term and range reads ([[KeyIndex]], [[TermDict]]).
  * A Spark read of the same rows costs a job — a driver round trip and a
  * task per file — which dominates when the rows fit in a page (the
  * reference's `documents` store is an LMDB point lookup, index.rs:175-176).
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
    dataFiles(conf, dir).map(footer(conf, _).getBlocks.asScala.map(_.getRowCount).sum).sum

  /** The footer of `file`, read under `conf` (default options load a
    * fresh Hadoop Configuration, about 10 ms per file). */
  private def footer(conf: Configuration, file: FileStatus): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf, file.getPath).build())
    try r.getFooter finally r.close()
  }

  /** Every row of table `dir` (none when it does not exist), in file
    * order. For tables the driver holds whole; the files are read in
    * parallel on the common fork-join pool. */
  def readAll(conf: Configuration, dir: String, schema: StructType): Seq[Row] = {
    checkTypes(schema)
    inParallel(dataFiles(conf, dir).map(_.getPath))(read(conf, _, schema, FilterCompat.NOOP))
  }

  /** An int or string [[KeyIndex]] key: its parquet column and value
    * type `P`, whose natural order is the statistics' (for a string,
    * unsigned UTF-8 bytes: code-point order, not `String.compareTo`'s). */
  final class Key[K, P <: Comparable[P]](column: String => Operators.Column[P] with Operators.SupportsLtGt,
                                         toP: K => P) {
    private[LocalParquet] def in(c: String, ks: Set[K]) = FilterApi.in(column(c), ks.map(toP).asJava)
    private[LocalParquet] def between(c: String, lo: K, hi: K) =
      FilterApi.and(FilterApi.gtEq(column(c), toP(lo)), FilterApi.ltEq(column(c), toP(hi)))
    /** Whether some row group, by its statistics' [min, max] (None:
      * no statistics), may hold a key in [lo, hi]. */
    private[LocalParquet] def meets(rgs: Seq[Option[(Any, Any)]], lo: K, hi: K): Boolean =
      rgs.exists(_.forall { case (min, max) =>
        min.asInstanceOf[P].compareTo(toP(hi)) <= 0 && toP(lo).compareTo(max.asInstanceOf[P]) <= 0
      })
  }

  object Key {
    implicit val IntKey: Key[Int, Integer] = new Key(FilterApi.intColumn, Int.box)
    implicit val StringKey: Key[String, Binary] = new Key(FilterApi.binaryColumn, Binary.fromString)
  }

  /** Footer index of table `dir` on its int or string column `key`
    * ([[Key]]; docs/ by docId, a `len=` directory of dict/ by term): each
    * data file with the [min, max] of `key` in each of its row groups,
    * read once on first use. A read opens only the files whose ranges
    * meet the requested keys, and its filter prunes row groups by their
    * statistics, pages by the column index, then single records. Holds
    * O(files × row groups) pairs, never rows. The listing is as old as
    * the index, so the owner must be a snapshot of the table. */
  final class KeyIndex[K](conf: Configuration, dir: String, key: String)(implicit k: Key[K, _]) {
    /** Per file, its row groups' [min, max] of `key`. */
    private lazy val ranges: Seq[(Path, Seq[Option[(Any, Any)]])] =
      dataFiles(conf, dir).map { s =>
        s.getPath -> footer(conf, s).getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == key)
            .map(_.getStatistics).filter(st => st != null && st.hasNonNullValue)
            .map(st => (st.genericGetMin, st.genericGetMax))
        }
      }

    /** key → row for the rows whose `key` is in `ids` (`schema` must
      * start with `key`); absent ids have no entry. */
    def rows(ids: Seq[K], schema: StructType): Map[K, Row] = {
      require(schema.head.name == key, s"lookup schema must start with '$key'")
      checkTypes(schema)
      inParallel(ranges.map { case (file, rgs) => file -> ids.distinct.filter(id => k.meets(rgs, id, id)) }
        .filter(_._2.nonEmpty)) { case (file, mine) =>
        read(conf, file, schema, FilterCompat.get(k.in(key, mine.toSet)))
      }.map(r => r.getAs[K](0) -> r).toMap
    }

    /** The rows with `lo ≤ key ≤ hi` in [[Key]]'s order, at most `limit`
      * from each file: its first ones in row order (for a file sorted on
      * `key`, its smallest). */
    def range(lo: K, hi: K, schema: StructType, limit: Int = Int.MaxValue): Seq[Row] = {
      checkTypes(schema)
      inParallel(ranges.collect { case (file, rgs) if k.meets(rgs, lo, hi) => file })(
        read(conf, _, schema, FilterCompat.get(k.between(key, lo, hi)), limit))
    }
  }

  /** `f` over `files` on the common fork-join pool, results in order. */
  private def inParallel[A](files: Seq[A])(f: A => Seq[Row]): Seq[Row] =
    files.asJava.parallelStream().map[Seq[Row]](f(_))
      .collect(java.util.stream.Collectors.toList[Seq[Row]]()).asScala.toSeq.flatten

  private def checkTypes(schema: StructType): Unit = schema.foreach { f =>
    f.dataType match {
      case StringType | IntegerType | LongType | ArrayType(StringType, _) =>
      case t => throw new IllegalArgumentException(s"column '${f.name}' has type " +
        s"${t.simpleString}: the driver-side reader reads string, int, long and array<string>")
    }
  }

  /** `schema`'s columns of the first `limit` records of `file` that pass
    * `filter`. Built from an InputFile: the Path builder first loads a
    * fresh Hadoop Configuration, about 10 ms per file. */
  private def read(conf: Configuration, file: Path, schema: StructType,
                   filter: FilterCompat.Filter, limit: Int = Int.MaxValue): Seq[Row] = {
    val reader = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(file, conf)) {
      override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport {
        override def init(ctx: InitContext): ReadSupport.ReadContext = {
          val fileSchema = ctx.getFileSchema
          val cols: Seq[Type] = schema.fieldNames.toSeq.filter(fileSchema.containsField)
            .map(n => fileSchema.getType(fileSchema.getFieldIndex(n)))
          new ReadSupport.ReadContext(new MessageType(fileSchema.getName, cols.asJava))
        }
      }
    }.withFilter(filter).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).take(limit)
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
