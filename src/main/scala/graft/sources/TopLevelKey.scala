package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageTypeParser, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{FooterBridge, ParquetFileFormat,
  ParquetFooterReader}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The top-level key (TLK) of an INDEX: the small file that maps key ranges
  * to parts, so a keyed read opens only the parts that can hold the key
  * (the reference's TLK, `system/jhtree/`, probed by `TAKindexread`).
  *
  * `_tlk` sits in the index dir beside the parts; the leading underscore
  * keeps it out of Spark's listing. It holds, for each part file, its name,
  * its length and, from that part's row-group statistics, the null count,
  * min and max of the leading key column. It also holds the first part's
  * footer schema and key-value metadata: the dir's stored layout, which a
  * reader converts with Spark's footer → schema conversion under its own
  * session's confs, so it gets the schema `Sources.parquet` would read from
  * that footer.
  *
  * A reader trusts the TLK only while the dir's data files (names and
  * lengths) are exactly its parts, with no subdirectory and no summary file;
  * an append, a rewrite or a partial build makes it fall back to the plain
  * parquet read. Stats prune only for keys whose parquet order is Spark's:
  * signed integral, date, timestamp (micros) and UTF-8 string columns. Float,
  * double, decimal and other keys keep every part.
  */
object TopLevelKey {
  val FileName = "_tlk"
  private val Magic = "graft-tlk 1"
  private val End = "#END"

  /** Leading-key stats of one part: `range` is the (min, max) of its non-null
    * values, None when it holds none.
    */
  private final case class KeyStats(nulls: Long, range: Option[(Any, Any)])

  /** One part file; `stats` is None when its footer does not bound the key. */
  private final case class Part(name: String, length: Long, stats: Option[KeyStats])

  private final case class Tlk(key: String, kind: Option[Kind], layout: FileMetaData,
      parts: Seq[Part])

  /** A key domain whose parquet statistics order is Spark's order. Values are
    * Spark's internal ones: a Long for integral, date and timestamp keys, a
    * `UTF8String` for string keys.
    */
  private sealed abstract class Kind(val name: String) extends Ordering[Any] {
    def accepts(dt: DataType): Boolean
    def fromParquet(v: Any): Any
    def fromSpark(v: Any): Any
    def encode(v: Any): String
    def decode(s: String): Any
  }
  private object Integral extends Kind("long") {
    def accepts(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType |
          TimestampNTZType => true
      case _ => false
    }
    def compare(a: Any, b: Any): Int =
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    def fromParquet(v: Any): Any = v.asInstanceOf[Number].longValue
    def fromSpark(v: Any): Any = v.asInstanceOf[Number].longValue
    def encode(v: Any): String = v.toString
    def decode(s: String): Any = s.toLong
  }
  private object Utf8 extends Kind("string") {
    def accepts(dt: DataType): Boolean = dt == StringType
    def compare(a: Any, b: Any): Int =
      a.asInstanceOf[UTF8String].binaryCompare(b.asInstanceOf[UTF8String])
    def fromParquet(v: Any): Any = UTF8String.fromBytes(v.asInstanceOf[Binary].getBytes)
    def fromSpark(v: Any): Any = v
    def encode(v: Any): String = java.util.HexFormat.of().formatHex(v.asInstanceOf[UTF8String].getBytes)
    def decode(s: String): Any = UTF8String.fromBytes(java.util.HexFormat.of().parseHex(s))
  }
  private val kinds = Seq(Integral, Utf8)

  /** The kind of a parquet key column, when its stats order is Spark's. Dates
    * and timestamps written in Spark's legacy hybrid calendar are rebased on
    * read, so their stats are not the values Spark compares.
    */
  private def kindOf(t: PrimitiveType, legacyCalendar: Boolean): Option[Kind] =
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (INT32 | INT64, null) => Some(Integral)
      case (INT32 | INT64, i: IntLogicalTypeAnnotation) if i.isSigned => Some(Integral)
      case (INT32, _: DateLogicalTypeAnnotation) if !legacyCalendar => Some(Integral)
      case (INT64, ts: TimestampLogicalTypeAnnotation)
          if ts.getUnit == TimeUnit.MICROS && !legacyCalendar => Some(Integral)
      case (BINARY, _: StringLogicalTypeAnnotation) => Some(Utf8)
      case _ => None
    }

  /** Names Spark's file listing skips (`HadoopFSUtils.shouldFilterOutPathName`
    * without its summary-file exception: summaries are not parts).
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def isSummary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** Write `dir`'s TLK, keyed on its leading key column `key`, after its parts
    * are written: one footer read per part on the calling thread under the
    * session's Hadoop conf, no Spark job. The file is written under a
    * temporary name and renamed into place, and ends with an `#END` line, so
    * a reader sees a whole TLK or none.
    */
  def write(spark: SparkSession, dir: String, key: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root)
      .filter(f => f.isFile && !hidden(f.getPath.getName)).sortBy(_.getPath.getName).toSeq
    if (files.isEmpty) return
    val footers = files.map(f =>
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), NO_FILTER))
    val layout = footers.head.getFileMetaData
    val legacyCalendar = layout.getKeyValueMetaData.containsKey("org.apache.spark.legacyDateTime")
    val field = layout.getSchema.getFields.asScala
      .find(f => f.getName == key && f.isPrimitive && !f.isRepetition(Repetition.REPEATED))
    val keyType = field.map(_.asPrimitiveType)
    val kind = keyType.flatMap(kindOf(_, legacyCalendar))
    val parts = files.zip(footers).map { case (f, footer) =>
      Part(f.getPath.getName, f.getLen,
        for (k <- kind; t <- keyType; s <- keyStats(footer, t, k)) yield s)
    }
    val tlk = Tlk(key, kind, layout, parts)
    val tmp = new Path(root, s"$FileName.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(render(tlk).getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, new Path(root, FileName))) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"cannot rename $tmp to $FileName")
    }
  }

  /** A part's leading-key stats over its row groups, or None when a row group
    * does not bound them: stats missing, or min/max dropped for a row group
    * that holds non-null values.
    */
  private def keyStats(footer: ParquetMetadata, keyType: PrimitiveType,
      kind: Kind): Option[KeyStats] =
    footer.getBlocks.asScala.foldLeft(Option(KeyStats(0L, None))) { (acc, block) =>
      for {
        sofar <- acc
        chunk <- block.getColumns.asScala.find(c =>
          c.getPath.toArray.sameElements(Array(keyType.getName)) &&
            c.getPrimitiveType == keyType)
        s <- Option(chunk.getStatistics) if s.isNumNullsSet
        range <-
          if (s.hasNonNullValue) {
            val (lo, hi) = (kind.fromParquet(s.genericGetMin), kind.fromParquet(s.genericGetMax))
            Some(Some(sofar.range.fold((lo, hi)) { case (a, b) => (kind.min(a, lo), kind.max(b, hi)) }))
          } else if (s.getNumNulls == chunk.getValueCount) Some(sofar.range)
          else None
      } yield KeyStats(sofar.nulls + s.getNumNulls, range)
    }

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def dec(s: String): String = URLDecoder.decode(s, UTF_8)

  private def render(t: Tlk): String = {
    val kv = t.layout.getKeyValueMetaData.asScala.toSeq.sortBy(_._1)
    val lines = Seq(Magic,
        s"key ${enc(t.key)} ${t.kind.fold("-")(_.name)}",
        s"schema ${enc(t.layout.getSchema.toString)}") ++
      kv.map { case (k, v) => s"meta ${enc(k)} ${enc(v)}" } ++
      t.parts.map { p =>
        val stats = (p.stats, t.kind) match {
          case (Some(KeyStats(n, Some((lo, hi)))), Some(k)) => s"$n ${k.encode(lo)} ${k.encode(hi)}"
          case (Some(KeyStats(n, None)), _) => s"$n - -"
          case _ => "- - -"
        }
        s"part ${enc(p.name)} ${p.length} $stats"
      } :+ End
    lines.mkString("", "\n", "\n")
  }

  /** The TLK in `text`, or None unless it is whole and well formed. */
  private def parse(text: String): Option[Tlk] = try {
    val lines = text.split("\n").toSeq
    if (lines.headOption.contains(Magic) && lines.lastOption.contains(End)) {
      val body = lines.slice(1, lines.size - 1).map(_.split(" ", -1).toSeq)
      val (key, kind) = body.collectFirst { case Seq("key", k, n) =>
        (dec(k), kinds.find(_.name == n)) }.get
      val schema = body.collectFirst { case Seq("schema", s) => dec(s) }.get
      val kv = body.collect { case Seq("meta", k, v) => dec(k) -> dec(v) }.toMap
      val parts = body.collect { case Seq("part", name, len, nulls, lo, hi) =>
        val stats =
          if (nulls == "-") None
          else if (lo == "-") Some(KeyStats(nulls.toLong, None))
          else kind.map(k => KeyStats(nulls.toLong, Some((k.decode(lo), k.decode(hi)))))
        Part(dec(name), len.toLong, stats)
      }
      val layout = new FileMetaData(MessageTypeParser.parseMessageType(schema), kv.asJava, Magic)
      Some(Tlk(key, kind, layout, parts))
    } else None
  } catch { case NonFatal(_) => None }

  /** Parsed TLKs by qualified `_tlk` path, length and modification time, the
    * most recently used [[Cached]] of them. A parsed TLK is a function of the
    * file's bytes only; whether it still describes its dir is checked per
    * read, so a stale entry can only send a read to the plain path.
    */
  private val Cached = 64
  private val parsed = new java.util.LinkedHashMap[(String, Long, Long), Tlk](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(String, Long, Long), Tlk]): Boolean =
      size() > Cached
  }

  /** The parsed TLK of the dir `root`: one `getFileStatus`, which fails for a
    * dir with no TLK, then the file is opened and parsed only when no TLK of
    * that path, length and modification time is cached.
    */
  private def tlkOf(fs: FileSystem, root: Path): Option[Tlk] = {
    val status = fs.getFileStatus(new Path(root, FileName))
    val key = (status.getPath.toString, status.getLen, status.getModificationTime)
    Option(parsed.synchronized(parsed.get(key))).orElse {
      val in = fs.open(status.getPath)
      val tlk = try parse(new String(in.readAllBytes(), UTF_8)) finally in.close()
      tlk.foreach(t => parsed.synchronized(parsed.put(key, t)))
      tlk
    }
  }

  /** The TLK read of the dir `root` (qualified), or None when `root` holds no
    * readable TLK or its data files are not exactly the TLK's parts. The
    * parsed TLK is cached across reads; the listing that checks the dir's
    * files against it, and the schema conversion under the session's confs,
    * run on every read. The relation is the one
    * `spark.read.schema(s).parquet(root)` builds, over a file index that
    * keeps only the parts whose key stats can match the pushed filters; the
    * filters themselves still run on every row read. The first TLK read on
    * a session adds [[IndexLookup]] to its planner, which serves a collected
    * or taken read whose kept parts make one file split on the calling
    * thread.
    */
  def read(spark: SparkSession, root: Path): Option[DataFrame] = try {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for {
      tlk <- tlkOf(fs, root)
      listed = fs.listStatus(root).toSeq
      if !listed.exists(f => f.isDirectory || isSummary(f.getPath.getName))
      data = listed.filterNot(f => hidden(f.getPath.getName))
      byName = data.map(f => f.getPath.getName -> f).toMap
      if data.size == tlk.parts.size &&
        tlk.parts.forall(p => byName.get(p.name).exists(_.getLen == p.length))
      schema <- FooterBridge.schema(spark, new Path(root, tlk.parts.head.name),
        new ParquetMetadata(tlk.layout, java.util.Collections.emptyList()))
    } yield {
      val key = for {
        k <- tlk.kind
        f <- schema.fields.find(_.name == tlk.key) if k.accepts(f.dataType)
      } yield (f.name, f.dataType, k)
      val index = PartIndex(root, tlk.parts.map(p => (byName(p.name), p.stats)), key)
      IndexLookup.inject(spark)
      spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
        GraftBridge.asNullable(schema), None, new ParquetFileFormat, Map.empty)(spark))
    }
  } catch { case NonFatal(_) => None }

  /** Whether `index` is the file index of a TLK read. */
  private[sources] def isIndex(index: FileIndex): Boolean = index.isInstanceOf[PartIndex]

  /** The parts of one TLK'd dir. `listFiles` drops a part only when its
    * leading-key stats prove that no row can satisfy some pushed filter.
    */
  private final case class PartIndex(root: Path, parts: Seq[(FileStatus, Option[KeyStats])],
      key: Option[(String, DataType, Kind)]) extends FileIndex {
    def rootPaths: Seq[Path] = Seq(root)
    def inputFiles: Array[String] = parts.map(_._1.getPath.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = parts.map(_._1.getLen).sum
    def partitionSchema: StructType = new StructType()

    def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val kept = parts.collect {
        case (f, stats) if key.isEmpty || stats.forall(s => dataFilters.forall(mayMatch(_, s))) =>
          FileStatusWithMetadata(f)
      }
      Seq(PartitionDirectory(InternalRow.empty, kept))
    }

    /** False only when no row of a part with stats `s` can make `e` true. */
    private def mayMatch(e: Expression, s: KeyStats): Boolean = {
      val (name, dt, kind) = key.get
      object Key {
        def unapply(e: Expression): Boolean = e match {
          case a: AttributeReference => a.name == name && a.dataType == dt
          case _ => false
        }
      }
      object Value {
        def unapply(e: Expression): Option[Any] = e match {
          case Literal(v, `dt`) if v != null => Some(kind.fromSpark(v))
          case _ => None
        }
      }
      def range(p: (Any, Any) => Boolean) = s.range.exists { case (lo, hi) => p(lo, hi) }
      def holds(v: Any) = range((lo, hi) => kind.lteq(lo, v) && kind.lteq(v, hi))
      e match {
        case And(a, b) => mayMatch(a, s) && mayMatch(b, s)
        case Or(a, b) => mayMatch(a, s) || mayMatch(b, s)
        case IsNull(Key()) => s.nulls > 0
        case EqualNullSafe(Key(), Literal(null, _)) | EqualNullSafe(Literal(null, _), Key()) =>
          s.nulls > 0
        case EqualTo(Key(), Value(v)) => holds(v)
        case EqualTo(Value(v), Key()) => holds(v)
        case EqualNullSafe(Key(), Value(v)) => holds(v)
        case EqualNullSafe(Value(v), Key()) => holds(v)
        case LessThan(Key(), Value(v)) => range((lo, _) => kind.lt(lo, v))
        case LessThan(Value(v), Key()) => range((_, hi) => kind.lt(v, hi))
        case LessThanOrEqual(Key(), Value(v)) => range((lo, _) => kind.lteq(lo, v))
        case LessThanOrEqual(Value(v), Key()) => range((_, hi) => kind.lteq(v, hi))
        case GreaterThan(Key(), Value(v)) => range((_, hi) => kind.gt(hi, v))
        case GreaterThan(Value(v), Key()) => range((lo, _) => kind.gt(v, lo))
        case GreaterThanOrEqual(Key(), Value(v)) => range((_, hi) => kind.gteq(hi, v))
        case GreaterThanOrEqual(Value(v), Key()) => range((lo, _) => kind.gteq(v, lo))
        case In(Key(), list) if list.forall {
              case Literal(null, _) | Value(_) => true
              case _ => false
            } =>
          list.exists {
            case Value(v) => holds(v)
            case _ => false
          }
        case InSet(Key(), set) => set.exists(v => v != null && holds(kind.fromSpark(v)))
        case _ => true
      }
    }
  }
}
