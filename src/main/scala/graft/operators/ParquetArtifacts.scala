package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.{GroupType, PrimitiveType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructField}

/**
 * Driver-local reads of a saved index layout's small artifacts — the
 * centroid table, the PQ meta and codebooks, the OPQ rotation — and
 * the schema of its `data` tree, with no Spark job. The artifacts are
 * kilobytes; reading them through `spark.read.parquet(...).collect()`
 * cost a schema-inference job plus a collect each, on every reopen.
 *
 * Reads go through the layout's own Hadoop FileSystem (the
 * [[IvfIndex.writeSidecar]] rationale) and parquet-hadoop's
 * `ParquetReader`; the on-disk format is the one Spark writes, so every
 * layout reopens unchanged. Columns are read BY NAME (a rewrite with
 * reordered columns reads the same), and a column of an unexpected
 * type, a missing column or a NULL value refuses by name. Lists decode
 * in Spark's standard three-level encoding and both legacy encodings
 * (`spark.sql.parquet.writeLegacyFormat`); any other list shape
 * refuses by name.
 */
private[graft] object ParquetArtifacts {

  /** The value kinds the artifacts hold. */
  sealed trait Kind
  case object IntKind extends Kind
  case object BooleanKind extends Kind
  case object FloatsKind extends Kind

  /** The data files of a parquet directory tree in Spark's listing
    * order — files of a directory first, then its subdirectories
    * depth-first, names starting with `_` or `.` skipped — so the first
    * one is the file Spark's schema inference reads. */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val (dirs, files) = fs.listStatus(dir).toSeq.filter(visible).partition(_.isDirectory)
    files ++ dirs.flatMap(d => dataFiles(fs, d.getPath))
  }

  /** Every row of the parquet files under `dir`, as the values of
    * `columns` (by name) in order: `Int`, `Boolean` or `Array[Float]`. */
  def read(spark: SparkSession, dir: String, columns: (String, Kind)*): Seq[Array[Any]] = {
    val root = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    dataFiles(fs, root).flatMap { st =>
      val reader = ParquetReader.builder(new GroupReadSupport(), st.getPath).withConf(conf).build()
      try {
        Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
          columns.map { case (name, kind) => value(g, name, kind, st.getPath) }.toArray
        }.toVector
      } finally reader.close()
    }
  }

  private def value(g: Group, name: String, kind: Kind, file: Path): Any = {
    val schema = g.getType
    def refuse(why: String): Nothing = throw new IllegalArgumentException(
      s"$file: column '$name' $why — not the layout this engine wrote")
    if (!schema.containsField(name)) refuse("is missing")
    val i = schema.getFieldIndex(name)
    val t = schema.getType(i)
    def primitive(want: PrimitiveTypeName): Unit =
      if (!t.isPrimitive || t.asPrimitiveType.getPrimitiveTypeName != want ||
          t.isRepetition(Type.Repetition.REPEATED))
        refuse(s"is $t, expected a $want")
    if (kind != FloatsKind && g.getFieldRepetitionCount(i) == 0) refuse("is NULL")
    kind match {
      case IntKind =>
        primitive(PrimitiveTypeName.INT32)
        g.getInteger(i, 0)
      case BooleanKind =>
        primitive(PrimitiveTypeName.BOOLEAN)
        g.getBoolean(i, 0)
      case FloatsKind => floats(g, i, t, refuse)
    }
  }

  /** A list of floats in any of Spark's encodings: three-level
    * (`LIST { repeated group { optional float element } }`, also Spark's
    * legacy `bag`/`array` names), legacy two-level (`LIST { repeated
    * float array }`), or a bare repeated float field. */
  private def floats(g: Group, i: Int, t: Type, refuse: String => Nothing): Array[Float] = {
    def isFloat(x: Type): Boolean =
      x.isPrimitive && x.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.FLOAT
    if (t.isPrimitive) {
      if (!isFloat(t) || !t.isRepetition(Type.Repetition.REPEATED))
        refuse(s"is $t, expected a list of floats")
      Array.tabulate(g.getFieldRepetitionCount(i))(j => g.getFloat(i, j))
    } else {
      val list = t.asGroupType
      if (list.getFieldCount != 1 || !list.getType(0).isRepetition(Type.Repetition.REPEATED))
        refuse(s"is $t, not a list")
      if (g.getFieldRepetitionCount(i) == 0) refuse("is NULL")
      val outer = g.getGroup(i, 0)
      val rep = list.getType(0)
      val n = outer.getFieldRepetitionCount(0)
      if (isFloat(rep)) Array.tabulate(n)(j => outer.getFloat(0, j))
      else {
        // Spark reads a one-field repeated group named `array` or
        // `<list>_tuple` as a struct element, not as the float
        val el = if (rep.isPrimitive) null else rep.asGroupType
        if (el == null || el.getFieldCount != 1 || !isFloat(el.getType(0)) ||
            el.getName == "array" || el.getName == s"${t.getName}_tuple")
          refuse(s"is $t, expected a list of floats")
        Array.tabulate(n) { j =>
          val e = outer.getGroup(0, j)
          if (e.getFieldRepetitionCount(0) == 0) refuse(s"holds a NULL element at $j")
          e.getFloat(0, 0)
        }
      }
    }
  }

  /** Rows in the parquet files under `dir`, summed from their footers —
    * the count `spark.read.parquet(dir).count()` returns, with no job. */
  def rowCount(spark: SparkSession, files: Seq[FileStatus]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { st =>
      val r = ParquetFileReader.open(conf, st.getPath)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** The cell-partitioned `data` tree as a DataFrame, planned without a
    * schema-inference job: the data schema comes from one footer, read
    * the way Spark's inference reads it
    * (`ParquetFileFormat.readSchemaFromFooter` on the first data file),
    * plus the partition column `cell: int`. A tree with no data file
    * falls back to `spark.read.parquet`, whose refusal names the path. */
  def cellTree(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val first = if (fs.exists(root)) dataFiles(fs, root).headOption else None
    first match {
      case None => spark.read.parquet(dir)
      case Some(st) =>
        val footer = ParquetFileReader.readFooter(conf, st.getPath)
        val schema = org.apache.spark.sql.graftbridge.ParquetBridge.footerSchema(
          new Footer(st.getPath, footer))
        spark.read.schema(schema.add(StructField("cell", IntegerType))).parquet(dir)
    }
  }
}
