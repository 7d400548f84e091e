package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Read-only native decoder for the SQLite database-file format — the
  * container behind `.gpkg` GeoPackages, which is how the reference loads
  * OS Built-Up Areas (reference: src/data_processors/built_up_areas.py:80
  * `load_geopackage_built_up_areas` via fiona/GDAL). No GDAL, no SQLite
  * library: the on-disk format is a stable public spec
  * (sqlite.org/fileformat2.html) of B-tree pages holding varint-framed
  * records, and this decoder reads exactly the pages it needs through a
  * positioned-read handle — the driver touches only the schema pages, and
  * each executor task walks only its assigned subtree of a table's B-tree
  * (see [[GeoPackageSource]] for the partitioned scan).
  *
  * Covered: journal-clean database files, UTF-8 text encoding, rowid
  * tables (interior + leaf table pages), overflow-page payload chains,
  * INTEGER PRIMARY KEY rowid aliasing, and all record serial types.
  * Not covered (refused with a clear error rather than misread): WAL-mode
  * files with an unmerged -wal log, UTF-16 databases, and the index
  * B-trees / WITHOUT ROWID layout (a feature scan never needs them).
  */
object SqliteFile {

  /** Positioned reads so schema probing and subtree scans touch only the
    * pages they need, whatever the file size. */
  trait ByteSource extends java.io.Closeable {
    def readFully(pos: Long, len: Int): Array[Byte]
  }

  /** Hadoop-FS positioned reader: works for local paths, HDFS, and any
    * other configured filesystem; safe to open executor-side. */
  final class HadoopSource(path: String, conf: Configuration) extends ByteSource {
    private val p = new Path(path)
    private val in = p.getFileSystem(conf).open(p)
    def readFully(pos: Long, len: Int): Array[Byte] = {
      val buf = new Array[Byte](len)
      in.readFully(pos, buf, 0, len)
      buf
    }
    def close(): Unit = in.close()
  }

  def open(path: String, conf: Configuration = new Configuration()): Db = {
    // header validation throws before any caller holds the Db — close
    // the already-opened stream or a task-retry loop over bad files
    // leaks one handle per attempt
    val src = new HadoopSource(path, conf)
    try new Db(src)
    catch { case e: Throwable =>
      try src.close() catch { case _: java.io.IOException => () }
      throw e
    }
  }

  /** One column of a parsed CREATE TABLE: declared name and type. */
  final case class ColumnDef(name: String, declType: String)

  /** One sqlite_master table entry. `ipk` is the index of the INTEGER
    * PRIMARY KEY column (rowid alias) if the table has one. */
  final case class TableInfo(name: String, rootPage: Int, sql: String,
                             columns: Vector[ColumnDef], ipk: Option[Int])

  // ---- varints + big-endian ints ------------------------------------

  /** Decode a SQLite varint at `off`; returns (value, bytesConsumed). */
  private[graft] def varint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val c = b(off + i) & 0xFF
      if (c < 0x80) return ((v << 7) | c, i + 1)
      v = (v << 7) | (c & 0x7F)
      i += 1
    }
    ((v << 8) | (b(off + 8) & 0xFF), 9)
  }

  private def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)

  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) |
      ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)

  private def beInt(b: Array[Byte], o: Int, n: Int): Long = {
    var v = if ((b(o) & 0x80) != 0) -1L else 0L // sign-extend
    var i = 0
    while (i < n) { v = (v << 8) | (b(o + i) & 0xFF); i += 1 }
    v
  }

  // ---- record (row payload) decoding --------------------------------

  /** Decode a record payload into column values: null | Long | Double |
    * String | Array[Byte], per the serial-type table of the format spec. */
  private[graft] def record(p: Array[Byte]): Vector[Any] = {
    val (hdrLen, n0) = varint(p, 0)
    val types = Vector.newBuilder[Long]
    var off = n0
    while (off < hdrLen) {
      val (t, n) = varint(p, off)
      types += t
      off += n
    }
    var body = hdrLen.toInt
    types.result().map { t =>
      t match {
        case 0 => null
        case 1 | 2 | 3 | 4 | 5 | 6 =>
          val n = t match { case 5 => 6; case 6 => 8; case k => k.toInt }
          val v = beInt(p, body, n); body += n; v
        case 7 =>
          val v = java.lang.Double.longBitsToDouble(beInt(p, body, 8))
          body += 8; v
        case 8 => 0L
        case 9 => 1L
        case n if n >= 13 && n % 2 == 1 =>
          val len = ((n - 13) / 2).toInt
          val v = new String(p, body, len, StandardCharsets.UTF_8)
          body += len; v
        case n if n >= 12 =>
          val len = ((n - 12) / 2).toInt
          val v = java.util.Arrays.copyOfRange(p, body, body + len)
          body += len; v
        case n => sys.error(s"graft-sqlite: reserved serial type $n")
      }
    }
  }

  // ---- CREATE TABLE parsing -----------------------------------------

  private val constraintStart =
    Set("PRIMARY", "UNIQUE", "CHECK", "FOREIGN", "CONSTRAINT")

  /** Blank `--` and `/* */` comments (sqlite_master stores the CREATE
    * text verbatim, comments included) without touching string literals
    * or quoted identifiers — a comma inside a comment would otherwise
    * split a phantom column and shift every later column's decode. */
  private[graft] def stripSqlComments(sql: String): String = {
    val out = new StringBuilder(sql.length)
    var i = 0
    var quote: Char = 0
    while (i < sql.length) {
      val ch = sql(i)
      if (quote != 0) {
        out += ch; if (ch == quote) quote = 0; i += 1
      } else if (ch == '\'' || ch == '"' || ch == '`') {
        quote = ch; out += ch; i += 1
      } else if (ch == '[') { quote = ']'; out += ch; i += 1 }
      else if (ch == '-' && i + 1 < sql.length && sql(i + 1) == '-') {
        while (i < sql.length && sql(i) != '\n') i += 1 // keep the \n
      } else if (ch == '/' && i + 1 < sql.length && sql(i + 1) == '*') {
        val end = sql.indexOf("*/", i + 2)
        out += ' '
        i = if (end < 0) sql.length else end + 2
      } else { out += ch; i += 1 }
    }
    out.result()
  }

  /** Split the parenthesized column list on top-level commas and take each
    * entry's first token as the name, the following tokens (up to any
    * column-constraint keyword) as the declared type. */
  private[graft] def parseCreate(rawSql: String): (Vector[ColumnDef], Option[Int]) = {
    val sql = stripSqlComments(rawSql)
    val open = sql.indexOf('(')
    val close = sql.lastIndexOf(')')
    require(open >= 0 && close > open, s"graft-sqlite: no column list in: $sql")
    val defs = Vector.newBuilder[String]
    var depth = 0
    val cur = new StringBuilder
    var quote: Char = 0  // 0 = not inside quotes
    sql.substring(open + 1, close).foreach { ch =>
      if (quote != 0) { cur += ch; if (ch == quote) quote = 0 }
      else ch match {
        case '\'' | '"' | '`' => quote = ch; cur += ch
        case '[' => quote = ']'; cur += ch
        case '(' => depth += 1; cur += ch
        case ')' => depth -= 1; cur += ch
        case ',' if depth == 0 => defs += cur.result(); cur.clear()
        case c => cur += c
      }
    }
    if (cur.nonEmpty) defs += cur.result()

    // pull the (possibly quoted, possibly space-containing) name off the
    // front of a column def; returns (name, rest)
    def name(d: String): (String, String) = d.head match {
      case q @ ('"' | '\'' | '`') =>
        // doubled quotes escape the quote char inside the identifier
        // ("a""b" names a"b) — stopping at the FIRST closing quote would
        // truncate the name and misread the remainder as the type
        val sb = new StringBuilder
        var i = 1
        var end = -1
        while (end < 0 && i < d.length) {
          if (d(i) == q) {
            if (i + 1 < d.length && d(i + 1) == q) { sb += q; i += 2 }
            else end = i
          } else { sb += d(i); i += 1 }
        }
        require(end > 0, s"graft-sqlite: unterminated quoted name in: $d")
        (sb.result(), d.substring(end + 1))
      case '[' =>
        val end = d.indexOf(']', 1)
        (d.substring(1, end), d.substring(end + 1))
      case _ =>
        val end = d.indexWhere(_.isWhitespace) match { case -1 => d.length; case e => e }
        (d.substring(0, end), d.substring(end))
    }

    val cols = Vector.newBuilder[ColumnDef]
    var ipk: Option[Int] = None
    var tablePk: Option[String] = None // single-column table-level PRIMARY KEY(x)
    var idx = 0
    defs.result().map(_.trim).filter(_.nonEmpty).foreach { d =>
      // a QUOTED first token is always a column name, even if it spells
      // a constraint keyword ("check", "unique", ...): classify on the
      // raw text BEFORE unquoting, or the column silently vanishes and
      // every later column's values shift by one
      val quotedName = d.nonEmpty && "\"'`[".contains(d.head)
      val (colName, rest) = name(d)
      val toks = colName +: rest.trim.split("\\s+").toVector.filter(_.nonEmpty)
      if (quotedName || !constraintStart.contains(toks.head.toUpperCase)) {
        val typeToks = toks.tail.takeWhile { t =>
          val u = t.toUpperCase
          // NULL is a (non-standard but accepted) column constraint:
          // leaving it in the decl made `INTEGER NULL PRIMARY KEY` miss
          // the rowid-alias check and surface the whole pk column NULL
          !constraintStart.contains(u) && u != "NOT" && u != "NULL" &&
            u != "DEFAULT" && u != "REFERENCES" && u != "COLLATE" &&
            u != "GENERATED" && u != "AS"
        }
        val decl = typeToks.mkString(" ")
        // rowid alias rules (empirically checked against sqlite3): the
        // column-level form aliases only WITHOUT a DESC sort qualifier.
        // Scan the post-name text with string literals AND quoted
        // identifiers blanked (a DEFAULT 'PRIMARY KEY' literal or a
        // REFERENCES "primary key"(id) target must not match) and
        // whitespace-tolerant keywords (newlines between the words).
        val restNoStr = rest.replaceAll("'(?:[^']|'')*'", " ")
          .replaceAll("\"(?:[^\"]|\"\")*\"", " ")
          .replaceAll("`(?:[^`]|``)*`", " ")
          .replaceAll("\\[[^\\]]*\\]", " ")
        // VIRTUAL generated columns are OMITTED from stored records —
        // decoding would shift every later column's values. Refuse
        // loudly (the file's policy for unsupported layouts); STORED
        // generated columns live in the record like ordinary ones.
        // Bare `AS (...)` without GENERATED is also generated-column
        // syntax, and VIRTUAL is the DEFAULT when neither keyword ends
        // the clause. Before probing, blank the balanced expression
        // bodies of CHECK/DEFAULT/REFERENCES constraints: an `AS (`
        // sequence INSIDE such a body (exotic but legal DDL) is not a
        // generated column — strings are already blanked above, so the
        // parens balance textually.
        val restNoKw = {
          val sb = new StringBuilder(restNoStr)
          val kw = "(?i)\\b(?:CHECK|DEFAULT|REFERENCES\\s*[\\w.]*)\\s*\\(".r
          var hit = kw.findFirstMatchIn(sb)
          while (hit.isDefined) {
            val open = hit.get.end - 1
            var i = open; var depth = 0; var close = -1
            while (i < sb.length && close < 0) {
              sb.charAt(i) match {
                case '(' => depth += 1
                case ')' => depth -= 1; if (depth == 0) close = i
                case _ => ()
              }
              i += 1
            }
            val stop = if (close < 0) sb.length else close + 1
            var j = open
            while (j < stop) { sb.setCharAt(j, ' '); j += 1 }
            hit = kw.findFirstMatchIn(sb) // the blanked '(' can't re-match
          }
          sb.toString
        }
        "(?i)\\b(?:GENERATED\\s+ALWAYS\\s+)?AS\\s*\\(".r
          .findFirstMatchIn(restNoKw).foreach { g =>
            // read STORED/VIRTUAL right AFTER the generated expression's
            // own balanced group, not anywhere in the remaining text
            val open = g.end - 1
            var i = open; var depth = 0; var close = -1
            while (i < restNoKw.length && close < 0) {
              restNoKw.charAt(i) match {
                case '(' => depth += 1
                case ')' => depth -= 1; if (depth == 0) close = i
                case _ => ()
              }
              i += 1
            }
            val after = if (close < 0) "" else restNoKw.substring(close + 1)
            if ("(?i)^\\s*STORED\\b".r.findFirstIn(after).isEmpty)
              sys.error(s"graft-sqlite: column '$colName' is a VIRTUAL " +
                "generated column (not stored in records) — unsupported")
          }
        val pkM = "(?i)\\bPRIMARY\\s+KEY(?:\\s+(ASC|DESC))?".r
          .findFirstMatchIn(restNoStr)
        if (decl.equalsIgnoreCase("INTEGER") &&
            pkM.exists(m => !"DESC".equalsIgnoreCase(
              Option(m.group(1)).getOrElse(""))) && ipk.isEmpty)
          ipk = Some(idx)
        cols += ColumnDef(colName, decl)
        idx += 1
      } else {
        // ...while table-level PRIMARY KEY(x) / (x DESC) ALWAYS aliases
        // when x is declared exactly INTEGER (SQLite stores NULL in the
        // record for the aliased column either way)
        val m = "(?i)^PRIMARY\\s+KEY\\s*\\(([^)]*)\\)".r.findFirstMatchIn(d)
        m.map(_.group(1).split(",").toSeq).filter(_.size == 1).foreach { one =>
          val cname = name(one.head.trim)._1
            .replaceAll("(?i)\\s+(ASC|DESC)$", "")
          tablePk = Some(cname)
        }
      }
    }
    val colsV = cols.result()
    if (ipk.isEmpty) ipk = tablePk.flatMap { pk =>
      val i = colsV.indexWhere(_.name.equalsIgnoreCase(pk))
      if (i >= 0 && colsV(i).declType.equalsIgnoreCase("INTEGER")) Some(i) else None
    }
    (colsV, ipk)
  }

  // ---- the database handle ------------------------------------------

  final class Db(src: ByteSource) extends java.io.Closeable {
    private val hdr =
      try src.readFully(0, 100)
      catch { case _: java.io.EOFException =>
        sys.error("graft-sqlite: file shorter than the 100-byte header")
      }
    require(new String(hdr, 0, 16, StandardCharsets.ISO_8859_1)
      .startsWith("SQLite format 3"), "graft-sqlite: not a SQLite file")

    val pageSize: Int = be16(hdr, 16) match { case 1 => 65536; case n => n }
    /** usable bytes per page (page size minus the reserved-region bytes). */
    val usable: Int = pageSize - (hdr(20) & 0xFF)
    require(be32(hdr, 56) == 1, "graft-sqlite: only UTF-8 databases supported")
    // a checkpointed WAL file keeps read/write-version = 2, so
    // "checkpoint it" can never unblock this error — switching the
    // journal mode is what rewrites the header bytes
    require(be32(hdr, 96) == 0 || (hdr(18) == 1 && hdr(19) == 1),
      "graft-sqlite: WAL-mode file — run PRAGMA journal_mode=DELETE " +
        "on it before reading")

    private def page(n: Int): Array[Byte] =
      src.readFully((n.toLong - 1) * pageSize, pageSize)

    /** Max payload stored inline on a table leaf before overflowing. */
    private val maxLocal = usable - 35
    private val minLocal = (usable - 12) * 32 / 255 - 23

    /** Assemble a cell's full payload, following the overflow chain when
      * the record spills past the leaf page. */
    private def payload(pg: Array[Byte], off: Int, len: Long): (Array[Byte], Int) = {
      if (len <= maxLocal)
        (java.util.Arrays.copyOfRange(pg, off, off + len.toInt), off + len.toInt)
      else {
        val k = minLocal + ((len - minLocal) % (usable - 4)).toInt
        val local = if (k <= maxLocal) k else minLocal
        val out = new Array[Byte](len.toInt)
        System.arraycopy(pg, off, out, 0, local)
        var got = local
        var next = be32(pg, off + local)
        while (next != 0 && got < len) {
          val op = page(next)
          val take = math.min((usable - 4).toLong, len - got).toInt
          System.arraycopy(op, 4, out, got, take)
          got += take
          next = be32(op, 0)
        }
        require(got == len, s"graft-sqlite: truncated overflow chain ($got of $len bytes)")
        (out, off + local + 4)
      }
    }

    private def pageHeaderOff(pageNo: Int): Int = if (pageNo == 1) 100 else 0

    /** All (rowid, columnValues) in the subtree rooted at `pageNo`, in
      * rowid order — the executor-side scan. */
    def rows(pageNo: Int): Iterator[(Long, Vector[Any])] = {
      val pg = page(pageNo)
      val h = pageHeaderOff(pageNo)
      val nCells = be16(pg, h + 3)
      (pg(h) & 0xFF) match {
        case 0x0D => // leaf table page
          (0 until nCells).iterator.map { i =>
            val cp = be16(pg, h + 8 + 2 * i)
            val (len, n0) = varint(pg, cp)
            val (rowid, n1) = varint(pg, cp + n0)
            val (rec, _) = payload(pg, cp + n0 + n1, len)
            (rowid, record(rec))
          }
        case 0x05 => // interior table page
          children(pg, h, nCells).iterator.flatMap(rows)
        case t => sys.error(s"graft-sqlite: unexpected page type 0x${t.toHexString} at page $pageNo")
      }
    }

    private def children(pg: Array[Byte], h: Int, nCells: Int): Vector[Int] =
      ((0 until nCells).map(i => be32(pg, be16(pg, h + 12 + 2 * i))) :+
        be32(pg, h + 8)).toVector

    /** Split a table's B-tree into >= `target` independent subtrees (or
      * all its leaves if fewer) — each becomes one Spark partition, so a
      * large file scans in parallel without any task reading the whole
      * tree. Descends interior levels breadth-first only as far as needed. */
    def subtreeRoots(rootPage: Int, target: Int): Vector[Int] = {
      var frontier = Vector(rootPage)
      var expandable = true
      while (frontier.size < target && expandable) {
        expandable = false
        frontier = frontier.flatMap { p =>
          val pg = page(p)
          val h = pageHeaderOff(p)
          if ((pg(h) & 0xFF) == 0x05) {
            expandable = true
            children(pg, h, be16(pg, h + 3))
          } else Vector(p)
        }
      }
      frontier
    }

    /** True iff the CREATE TABLE text ends in a WITHOUT ROWID table
      * option. Checked on the text AFTER the last ')' with comments
      * stripped — a substring probe over the whole DDL both missed
      * whitespace variants (`WITHOUT\n  ROWID` walked an index-layout
      * tree into "unexpected page type") and false-matched the words
      * inside a CHECK literal or a quoted column name (the table
      * silently vanished from the directory). */
    private def isWithoutRowid(sql: String): Boolean = {
      val clean = stripSqlComments(sql)
      val tail = clean.substring(clean.lastIndexOf(')') + 1)
      "(?i)\\bWITHOUT\\s+ROWID\\b".r.findFirstIn(tail).isDefined
    }

    /** The sqlite_master table directory (root = page 1): all ordinary
      * tables with their root pages and parsed column lists. Cached —
      * one resolve() walks the directory several times, and each walk
      * is positioned-read round trips against the store. */
    lazy val tableDirectory: Vector[TableInfo] =
      rows(1).collect {
        // rootpage >= 1 excludes virtual tables (rtree spatial indexes in
        // real gpkg files store rootpage 0 — their SHADOW tables, which
        // hold the actual pages, list normally)
        case (_, Vector("table", name: String, _, rootpage: Long, sql: String))
            if rootpage >= 1 && !isWithoutRowid(sql) =>
          val (cols, ipk) = parseCreate(sql)
          TableInfo(name, rootpage.toInt, sql, cols, ipk)
      }.toVector

    def tables(): Vector[TableInfo] = tableDirectory

    /** Exact-name match first; SQLite names are case-insensitive, so a
      * caller spelling 'features' for a stored 'Features' still
      * resolves (two tables differing only by case cannot coexist). */
    def table(name: String): TableInfo =
      tableDirectory.find(_.name == name)
        .orElse(tableDirectory.find(_.name.equalsIgnoreCase(name)))
        .getOrElse(sys.error(s"graft-sqlite: no such table '$name'"))

    def close(): Unit = src.close()
  }
}
