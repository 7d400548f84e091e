package graft.spark.xlsx

import java.util.zip.ZipInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("graft-xlsx")` — a DataSource V2 connector over the
  * same zip-of-XML workbook model as [[graft.sources.SpreadsheetSource]]
  * (reference: src/data_processors/dft_road_stats.py pd.read_excel), but
  * as a first-class Spark source: one input partition PER FILE (a folder
  * of monthly workbooks scans in parallel, the reference's
  * per-month-release shape), column pruning pushed into the cell parse,
  * and a StAX pull parser on the executor — no driver staging directory,
  * no intermediate XML scan.
  *
  * Options: `headerRow` (0-based row promoted to column names, pandas
  * `header=`; default 0), `sheet` (1-based worksheet index, default 1).
  * All values surface as STRING, like pandas `astype(str)` in the
  * reference — typing is downstream work. One workbook is parsed
  * streaming on one task; Excel's own ~1M-row cap bounds per-task work,
  * scale comes from file count.
  */
class DefaultSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-xlsx"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = XlsxParse.paths(options)
    require(paths.nonEmpty, "graft-xlsx: no path given")
    XlsxParse.headerSchema(paths.head,
      options.getInt("headerRow", 0), options.getInt("sheet", 1),
      XlsxParse.sessionHadoopConf())
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    XlsxTable(schema, XlsxParse.paths(opts),
      opts.getInt("headerRow", 0), opts.getInt("sheet", 1))
  }
}

case class XlsxTable(tableSchema: StructType, paths: Seq[String],
                     headerRow: Int, sheet: Int)
    extends Table with SupportsRead with SupportsWrite {
  override def schema(): StructType = tableSchema
  override def name(): String = paths.mkString(",")
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XlsxScanBuilder(tableSchema, paths, headerRow, sheet)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(paths.size == 1,
      s"graft-xlsx write needs exactly one target dir, got ${paths.size}")
    new XlsxWriteBuilder(info.schema(), paths.head, info.queryId())
  }
}

class XlsxScanBuilder(full: StructType, paths: Seq[String],
                      headerRow: Int, sheet: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = full
  private var countPushed = false
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  // the PHYSICAL header layout: cell indices must come from the sheet's
  // actual header row, never from the user schema's field POSITIONS — a
  // user schema that reorders or subsets columns (supportsExternalMetadata
  // allows it) would otherwise silently read the wrong cells
  private lazy val phys: StructType = XlsxParse.headerSchema(
    paths.head, headerRow, sheet, XlsxParse.sessionHadoopConf())
  private def cellIndexOf(name: String): Int = {
    require(phys.fieldNames.contains(name),
      s"graft-xlsx: column '$name' is not in the sheet header " +
        s"[${phys.fieldNames.mkString(", ")}]")
    phys.fieldIndex(name)
  }
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** v1 Filter references arrive backtick-quoted when the header name
    * needs it ("Region Name" -> `Region Name`). */
  private def unquote(a: String): String =
    if (a.length >= 2 && a.head == '`' && a.last == '`')
      a.substring(1, a.length - 1).replace("``", "`")
    else a

  /** Equality and IsNotNull on string cells evaluate INSIDE the StAX row
    * parse — non-matching rows are dropped before any InternalRow is
    * built (a folder of monthly workbooks filtered to one month never
    * materializes the others). Everything is reported back as residual
    * (`pushFilters` return), so Spark re-checks semantics; the pushdown
    * is a row-materialization saving, the contract stays exact. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter {
      case org.apache.spark.sql.sources.EqualTo(a, _: String) =>
        full.fieldNames.contains(unquote(a))
      case org.apache.spark.sql.sources.IsNotNull(a) =>
        full.fieldNames.contains(unquote(a))
      case _ => false
    }
    filters // all residual: Spark re-evaluates, correctness never depends on us
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  /** COUNT(*) with no grouping pushes into the scan: each file task
    * counts `<row>` elements in the sheet XML — no shared-strings load,
    * no cell decode, no per-cell rows ever materialized. PARTIAL
    * pushdown (one count per file, Spark sums the partials), so a
    * folder of workbooks still counts in parallel. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    false
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val ok = aggregation.groupByExpressions().isEmpty &&
      aggregation.aggregateExpressions().length == 1 &&
      aggregation.aggregateExpressions().head.isInstanceOf[CountStar]
    if (ok) countPushed = true
    ok
  }

  override def build(): Scan =
    if (countPushed) XlsxCountScan(paths, headerRow, sheet,
      // COUNT(*) enforces the same per-file header-drift contract as the
      // column scan: the two plans must agree on whether a drifted
      // monthly workbook is readable (a COUNT that succeeds where
      // SELECT * errors would hide the drift until the first real read)
      expectedHeader = phys.fields.zipWithIndex
        .map { case (f, i) => (i, f.name) }.toSeq)
    else {
      // every required column must resolve against the PHYSICAL header
      required.fields.foreach(f => cellIndexOf(f.name))
      XlsxScan(phys, required, paths, headerRow, sheet,
        // ship as (cell index, required value or null-for-IsNotNull) pairs
        pushed.collect {
          case org.apache.spark.sql.sources.EqualTo(a, v: String) =>
            (cellIndexOf(unquote(a)), v)
          case org.apache.spark.sql.sources.IsNotNull(a) =>
            (cellIndexOf(unquote(a)), null)
        })
    }
}

/** The COUNT(*)-pushdown scan: one long per file (a partial count Spark
  * merges), produced by a row-element-only StAX pass. */
case class XlsxCountScan(paths: Seq[String], headerRow: Int, sheet: Int,
                         expectedHeader: Seq[(Int, String)] = Seq.empty)
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", org.apache.spark.sql.types.LongType,
      nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-xlsx COUNT-pushdown sheet=$sheet files=${paths.size}"
  override def planInputPartitions(): Array[InputPartition] =
    paths.map(p => XlsxInputPartition(p): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    XlsxCountReaderFactory(headerRow, sheet,
      new SerializableHadoopConf(XlsxParse.sessionHadoopConf()),
      expectedHeader)
}

case class XlsxCountReaderFactory(headerRow: Int, sheet: Int,
                                  conf: SerializableHadoopConf,
                                  expectedHeader: Seq[(Int, String)] = Seq.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[XlsxInputPartition].path
    new PartitionReader[InternalRow] {
      private var emitted = false
      private var row: InternalRow = _
      override def next(): Boolean =
        if (emitted) false
        else {
          // same drift contract as the column scan; the count pass
          // itself stays decode-free (the validation is one header read)
          if (expectedHeader.nonEmpty)
            XlsxParse.validateHeader(
              new XlsxParse.ZipSource(path, conf.value), sheet, headerRow,
              expectedHeader, path)
          row = InternalRow(XlsxParse.countRows(
            new XlsxParse.ZipSource(path, conf.value), sheet, headerRow))
          emitted = true
          true
        }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

case class XlsxScan(full: StructType, required: StructType,
                    paths: Seq[String], headerRow: Int, sheet: Int,
                    cellFilters: Seq[(Int, String)] = Seq.empty)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val pf = cellFilters.map { case (ci, v) =>
      if (v == null) s"IsNotNull(${full.fieldNames(ci)})"
      else s"EqualTo(${full.fieldNames(ci)},$v)"
    }.mkString(", ")
    s"graft-xlsx sheet=$sheet headerRow=$headerRow files=${paths.size} " +
      s"PushedFilters: [$pf]"
  }
  /** Compressed archive bytes x a flat inflation factor: workbook XML
    * deflates ~5:1, so this keeps joins against a folder of workbooks
    * eligible for size-based planning (broadcast decisions) instead of
    * the unknown-size default. Runs on the driver -> session Hadoop conf
    * (spark.hadoop.* object-store settings apply, same as builtin sources). */
  // memoized: Spark can ask for statistics more than once, and one
  // getFileStatus RPC per file serializes (minutes of driver planning on
  // a 2k-workbook object-store folder) — batch the lookups per parent dir
  private lazy val totalBytes: Long = {
    val conf = XlsxParse.sessionHadoopConf()
    paths.map(p => new org.apache.hadoop.fs.Path(p))
      .groupBy(_.getParent).iterator.flatMap { case (parent, ps) =>
        val fs = parent.getFileSystem(conf)
        // qualify both sides: the user's paths may lack scheme/authority
        // while listStatus returns fully-qualified ones
        val wanted = ps.map(fs.makeQualified).toSet
        val found = fs.listStatus(parent)
          .filter(s => wanted.contains(s.getPath))
        // any wanted path the listing did not surface (deleted file,
        // stale path) must fail loudly like the old per-path
        // getFileStatus did — silently contributing 0 bytes would
        // underestimate sizeInBytes and could flip a broadcast decision
        // the scan itself then fails on
        val missing = wanted.diff(found.map(_.getPath).toSet)
        found.map(_.getLen) ++
          missing.toSeq.map(p => fs.getFileStatus(p).getLen)
      }.sum
  }
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(totalBytes * 5)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
  override def planInputPartitions(): Array[InputPartition] =
    paths.map(p => XlsxInputPartition(p): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory = {
    // map each required column to its cell index in the PHYSICAL header
    val cis = required.fields.map(f => full.fieldIndex(f.name))
    // capture the session conf on the driver; ships to executors serialized.
    // Every file's header row is re-validated against the first file's
    // layout at read time (expectedHeader): a folder of monthly workbooks
    // where one release inserted/renamed a column must fail loudly, not
    // silently land values under the wrong names (the gpkg connector's
    // per-file layout check, same policy)
    XlsxReaderFactory(cis, headerRow, sheet,
      new SerializableHadoopConf(XlsxParse.sessionHadoopConf()), cellFilters,
      expectedHeader = full.fields.zipWithIndex
        .map { case (f, i) => (i, f.name) }.toSeq)
  }
}

case class XlsxInputPartition(path: String) extends InputPartition

/** Hadoop Configuration is not java-serializable; it IS Writable. Standard
  * wrapper so the driver's session conf (spark.hadoop.*) reaches executor
  * tasks — same role as Spark's internal SerializableConfiguration. */
class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

case class XlsxReaderFactory(cellIdx: Array[Int], headerRow: Int, sheet: Int,
                             conf: SerializableHadoopConf,
                             cellFilters: Seq[(Int, String)] = Seq.empty,
                             expectedHeader: Seq[(Int, String)] = Seq.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[XlsxInputPartition].path
    new PartitionReader[InternalRow] {
      private var headerSeen = false
      private val underlying =
        XlsxParse.rows(new XlsxParse.ZipSource(path, conf.value), sheet)
      private val rows = underlying
        .filter { case (rn, cells) =>
          if (rn == headerRow) {
            // header drift check: this file's header must match the
            // first file's layout cell for cell
            expectedHeader.foreach { case (ci, name) =>
              val got = cells.getOrElse(ci, s"col_$ci")
              if (got != name) sys.error(
                s"graft-xlsx: $path header drift at cell $ci: " +
                  s"expected '$name', found '$got'")
            }
            headerSeen = true
            false
          } else if (rn < headerRow) false
          else {
            if (!headerSeen && expectedHeader.nonEmpty) sys.error(
              s"graft-xlsx: $path has no header row $headerRow to validate")
            true
          }
        }
        .filter { case (_, cells) =>
          // pushed filters: drop rows before any InternalRow is built
          cellFilters.forall { case (ci, v) =>
            val cell = cells.get(ci)
            if (v == null) cell.isDefined else cell.contains(v)
          }
        }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (!rows.hasNext) false
        else {
          val (_, cells) = rows.next()
          current = InternalRow.fromSeq(cellIdx.toSeq.map(ci =>
            cells.get(ci).map(UTF8String.fromString).orNull))
          true
        }
      override def get(): InternalRow = current
      override def close(): Unit = underlying.close()
    }
  }
}

/** Workbook parsing shared by driver (schema inference) and executors
  * (row scan): java.util.zip + StAX only, external entities disabled. */
object XlsxParse {

  /** Driver-side Hadoop conf carrying the session's spark.hadoop.*
    * overrides (object-store credentials, defaultFS) — what every builtin
    * source reads through. Falls back to a bare Configuration only when no
    * session is active (e.g. schema probing in plain unit code). */
  private[xlsx] def sessionHadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private[spark] def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).toSeq.flatMap { json =>
      // DataFrameReader.load(paths: _*) encodes a JSON string array; parse
      // it as JSON (Jackson ships with Spark) so paths containing commas
      // or quotes survive intact
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        catch {
          case e: com.fasterxml.jackson.core.JsonProcessingException =>
            throw new IllegalArgumentException(
              s"graft-xlsx: 'paths' is not valid JSON: $json", e)
        }
      require(node.isArray, s"graft-xlsx: 'paths' is not a JSON array: $json")
      (0 until node.size()).map(node.get(_).asText())
    }
    multi ++ Option(options.get("path")).toSeq
  }

  /** Re-openable member access: each member parses from its OWN bounded
    * stream (StAX directly over the ZipInputStream entry), so neither the
    * whole archive nor the decompressed sheet XML is ever materialized —
    * the pre-R13 byte[] route held both, costing ~1 GB of task heap for a
    * 150 MB workbook deflating 5:1 (and a 2 GB byte[] hard cap). The cost
    * is one archive re-open per member (a handful per file), each a
    * sequential header skim that decompresses only the target entry. */
  private[xlsx] final class ZipSource(path: String, conf: Configuration) {
    /** Stream positioned at the first entry matching `selector` — the
      * caller closes it (reading past the entry's end returns EOF). */
    def openMember(selector: String => Boolean): Option[ZipInputStream] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val zin = new ZipInputStream(p.getFileSystem(conf).open(p))
      var e = zin.getNextEntry
      while (e != null && !selector(e.getName)) e = zin.getNextEntry
      if (e == null) { zin.close(); None } else Some(zin)
    }
    /** Parse one member with StAX, closing everything afterwards. */
    def withMember[A](selector: String => Boolean)(
        f: javax.xml.stream.XMLStreamReader => A): Option[A] =
      openMember(selector).map { zin =>
        try {
          val r = readerOf(zin)
          try f(r) finally r.close()
        } finally zin.close()
      }
  }

  private def readerOf(in: java.io.InputStream) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(in)
  }

  /** sharedStrings.xml -> string table (rich-text runs concatenated). */
  private def sharedStrings(src: ZipSource): IndexedSeq[String] =
    src.withMember(_.endsWith("sharedStrings.xml")) { r =>
      val out = mutable.ArrayBuffer.empty[String]
      val cur = new StringBuilder
      var inT = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => cur.clear()
              case "t"  => inT = true
              case _    =>
            }
          case XMLStreamConstants.CHARACTERS if inT => cur.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "t"  => inT = false
              case "si" => out += cur.result()
              case _    =>
            }
          case _ =>
        }
      }
      out.toIndexedSeq
    }.getOrElse(IndexedSeq.empty[String])

  /** XFD — the last column of the xlsx grid. A ref resolving beyond it
    * is a corrupt (or hostile) file: unchecked, a long letter run
    * overflows Int and a huge-but-positive index makes headerSchema
    * materialize millions of StructFields (fuzz-found OOM class). */
  private[xlsx] val MaxCol = 16383

  /** "AB7" -> 0-based column index; empty ref -> -1 (caller sequences);
    * beyond [[MaxCol]] refuses loudly. */
  private def colIdx(ref: String): Int = {
    var i = 0; var acc = 0
    while (i < ref.length && ref.charAt(i) >= 'A' && ref.charAt(i) <= 'Z') {
      acc = acc * 26 + (ref.charAt(i) - 'A' + 1)
      if (acc - 1 > MaxCol)
        sys.error(s"graft-xlsx: cell ref '$ref' is beyond the XFD column grid")
      i += 1
    }
    acc - 1
  }

  /** Resolve the 1-based `sheet` index to worksheet bytes through
    * xl/workbook.xml's `<sheets>` ORDER and the workbook rels
    * (r:id -> target): physical file names (sheetN.xml) do not track
    * workbook order or deletions, so `sheet=1` must mean "the first
    * sheet as the user sees it", not "whichever file was created
    * first". Falls back to the filename convention for minimal
    * workbooks without usable metadata (our own writer's output). */
  private[xlsx] def openSheet(src: ZipSource, sheet: Int): ZipInputStream = {
    val viaWorkbook =
      for {
        rid <- src.withMember(_.endsWith("xl/workbook.xml")) { r =>
          val ids = mutable.ArrayBuffer.empty[String]
          while (r.hasNext) r.next() match {
            case XMLStreamConstants.START_ELEMENT if r.getLocalName == "sheet" =>
              // the r:id attribute is NAMESPACED: getAttributeValue(null,_)
              // is wildcard on the JDK's SJSXP but "no namespace" on other
              // StAX impls (Woodstox) — scan attributes by index instead
              (0 until r.getAttributeCount)
                .find(i => r.getAttributeLocalName(i) == "id")
                .map(r.getAttributeValue)
                .foreach(ids += _)
            case _ =>
          }
          ids.lift(sheet - 1)
        }.flatten
        target <- src.withMember(_.endsWith("workbook.xml.rels")) { r =>
          var t: Option[String] = None
          while (r.hasNext && t.isEmpty) r.next() match {
            case XMLStreamConstants.START_ELEMENT
                if r.getLocalName == "Relationship" =>
              if (r.getAttributeValue(null, "Id") == rid)
                t = Option(r.getAttributeValue(null, "Target"))
            case _ =>
          }
          t
        }.flatten
        // rels Targets are relative to xl/ — resolve against that base,
        // not by basename suffix (worksheets/sheet2.xml and
        // chartsheets/sheet2.xml share a basename and a suffix match
        // could silently read the wrong member)
        in <- src.openMember(_ == (
          if (target.startsWith("/")) target.stripPrefix("/")
          else "xl/" + target.stripPrefix("./")))
      } yield in
    viaWorkbook
      .orElse(src.openMember(_.endsWith(s"sheet$sheet.xml")))
      .getOrElse(sys.error(s"no worksheet for sheet=$sheet"))
  }

  /** Streamed (0-based row, colIdx -> string value) pairs of one sheet,
    * shared strings resolved, inline strings supported. LAZY: one row
    * in memory at a time — a million-row workbook must not materialize
    * every row Map before the caller filters/projects. */
  def rows(src: ZipSource, sheet: Int): RowIterator = {
    val sst = sharedStrings(src)
    val zin = openSheet(src, sheet)
    val r = readerOf(zin)
    new RowIterator(r, () => zin.close(), sst)
  }

  /** The streamed row iterator over one open sheet entry; closes its
    * underlying streams at exhaustion, and [[close]] releases them early
    * (PartitionReader.close wires here so a LIMIT-stopped task does not
    * leak the Hadoop input stream until task end). */
  final class RowIterator(r: javax.xml.stream.XMLStreamReader,
                          onDone: () => Unit,
                          sst: IndexedSeq[String])
      extends Iterator[(Long, Map[Int, String])] {
      private var pending: (Long, Map[Int, String]) = null
      private var exhausted = false
      private var rn = 0L // 1-based row number of the current <row>

      private def advance(): Unit = {
        var cells = mutable.Map.empty[Int, String]
        var ci = -1; var lastCi = -1
        var t: String = null
        val text = new StringBuilder
        var collecting = false // inside <v> or inline <t>
        while (pending == null && r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "row" =>
                  val attr = Option(r.getAttributeValue(null, "r"))
                  rn = attr.map(_.toLong).getOrElse(rn + 1)
                  cells = mutable.Map.empty; lastCi = -1
                case "c" =>
                  val ref = Option(r.getAttributeValue(null, "r")).getOrElse("")
                  ci = colIdx(ref) match { case -1 => lastCi + 1; case k => k }
                  lastCi = ci
                  t = r.getAttributeValue(null, "t")
                  text.clear()
                case "v" => collecting = true
                case "t" if t == "inlineStr" => collecting = true
                case _ =>
              }
            case XMLStreamConstants.CHARACTERS if collecting =>
              text.append(r.getText)
            case XMLStreamConstants.END_ELEMENT =>
              r.getLocalName match {
                case "v" | "t" => collecting = false
                case "c" =>
                  val raw = text.result()
                  val v =
                    if (t == "s")
                      if (raw.trim.isEmpty) null else sst.lift(raw.trim.toInt).orNull
                    else if (raw.nonEmpty) raw
                    else null
                  if (v != null) cells(ci) = v
                case "row" => pending = ((rn - 1, cells.toMap))
                case _ =>
              }
            case _ =>
          }
        }
        if (pending == null) close()
      }

      override def hasNext: Boolean = {
        if (pending == null && !exhausted) advance()
        pending != null
      }
      override def next(): (Long, Map[Int, String]) = {
        if (!hasNext) throw new NoSuchElementException("rows exhausted")
        val v = pending; pending = null; v
      }

      /** Idempotent early release of the XML reader + zip stream. */
      def close(): Unit = if (!exhausted) {
        exhausted = true
        try r.close() finally onDone()
      }
  }

  /** Data-row count of one sheet (0-based row number > headerRow) by a
    * row-element-only StAX pass — mirrors exactly what [[rows]] would
    * emit after the header filter (same `r`-attribute-or-sequential row
    * numbering), without loading shared strings or decoding any cell. */
  def countRows(src: ZipSource, sheet: Int, headerRow: Int): Long = {
    // same workbook-order resolution as rows(): COUNT(*) and the full
    // scan must agree on which sheet "sheet" means
    val zin = openSheet(src, sheet)
    try {
      val r = readerOf(zin)
      try {
        var rn = 0L
        var n = 0L
        while (r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT if r.getLocalName == "row" =>
              val attr = Option(r.getAttributeValue(null, "r"))
              rn = attr.map(_.toLong).getOrElse(rn + 1)
              if (rn - 1 > headerRow) n += 1
            case _ =>
          }
        }
        n
      } finally r.close()
    } finally zin.close()
  }

  /** Header-drift validation shared by the column scan's inline check
    * and the COUNT(*) pushdown (which otherwise never decodes a cell):
    * both plans must agree on whether a drifted workbook is readable.
    * Costs one header read (including shared strings) per file; closes
    * the reader as soon as the header row is seen. */
  def validateHeader(src: ZipSource, sheet: Int, headerRow: Int,
                     expected: Seq[(Int, String)], path: String): Unit = {
    val it = rows(src, sheet)
    try {
      while (it.hasNext) {
        val (rn, cells) = it.next()
        if (rn == headerRow) {
          expected.foreach { case (ci, name) =>
            val got = cells.getOrElse(ci, s"col_$ci")
            if (got != name) sys.error(
              s"graft-xlsx: $path header drift at cell $ci: " +
                s"expected '$name', found '$got'")
          }
          return
        } else if (rn > headerRow)
          // data without a header is the error; mirrors the column
          // scan's !headerSeen guard exactly
          sys.error(
            s"graft-xlsx: $path has no header row $headerRow to validate")
        // rn < headerRow: pre-header rows skip, like the column scan
      }
      // sheet exhausted before the header row: an EMPTY month
      // contributes 0 rows in BOTH plans — the column scan accepts this
      // file too, so erroring here would invert the agreement contract
    } finally it.close()
  }

  /** Header row `headerRow` (0-based) of the FIRST file names the columns
    * (missing header cells become col_N, like SpreadsheetSource.promote);
    * every column is STRING. */
  def headerSchema(path: String, headerRow: Int, sheet: Int,
                   conf: Configuration): StructType = {
    val it = rows(new ZipSource(path, conf), sheet)
    val hdr =
      try it.collectFirst { case (rn, cells) if rn == headerRow => cells }
        .getOrElse(sys.error(s"header row $headerRow not found in $path"))
      finally it.close()
    require(hdr.nonEmpty, s"header row $headerRow is empty")
    val nCols = hdr.keys.max + 1
    StructType((0 until nCols).map(i =>
      StructField(hdr.getOrElse(i, s"col_$i"), StringType, nullable = true)))
  }
}
