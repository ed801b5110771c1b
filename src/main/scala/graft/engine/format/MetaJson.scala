package graft.engine.format

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}

/** Hand-rolled jackson-core (streaming token) READERS for the commit-log
  * model classes (r20 optimization).
  *
  * Why not databind: the jackson-databind + scala-module deserialization
  * path is a very large bytecode surface — the FIRST cold checkpoint
  * parse in a JVM runs it at interpreter/C1 speed for tens of seconds
  * before C2 catches up (measured: the same 100k-segment cold read took
  * 23.6 s on first use and 0.8 s on fourth — a pure JIT cliff), and even
  * compiled it pays per-value reflection-shaped dispatch. This token
  * loop is ~100x less code, JITs in milliseconds, and parses a
  * SegmentMeta line ~5-8x faster compiled. At the 100 TB horizon the
  * cold tablestatus read of a 1M-segment table is driver-critical-path
  * for EVERY fresh session (the reference grew its Index Server for
  * exactly this wall).
  *
  * WRITES stay jackson-databind ([[TableLayout]]), so the on-disk format
  * is unchanged; these readers accept the same documents databind wrote:
  * fields in any order, unknown fields skipped (derived defs like
  * `visible`/`nextSegmentId` serialize as extra properties), absent
  * fields taking the case-class defaults, `null` for None/empty.
  * [[TableLayout]] falls back to databind on any parse error, so a
  * future field-shape change degrades to the slow path, never to a
  * wrong read. */
private[engine] object MetaJson {

  /** No field-name canonicalization: the checkpoint's fileMeta/deltas
    * maps use FILE NAMES as JSON object keys — a million distinct keys
    * pollute the factory's shared symbol table (grown + merged under a
    * lock on every parser close), measured at 10x the per-line parse
    * cost. This reader matches names by string equality, so interning
    * buys nothing. */
  val factory: JsonFactory = new JsonFactory()
    .disable(JsonFactory.Feature.INTERN_FIELD_NAMES)
    .disable(JsonFactory.Feature.CANONICALIZE_FIELD_NAMES)

  // ---- token helpers ------------------------------------------------

  private def expect(p: JsonParser, t: JsonToken): Unit = {
    val cur = p.currentToken()
    if (cur != t) throw new IllegalStateException(
      s"expected $t, got $cur at ${p.currentLocation()}")
  }

  /** Current value as Long (integer token). */
  private def long(p: JsonParser): Long = {
    val t = p.currentToken()
    if (t != JsonToken.VALUE_NUMBER_INT && t != JsonToken.VALUE_NUMBER_FLOAT)
      throw new IllegalStateException(s"expected number, got $t")
    p.getLongValue
  }

  /** Current value as String; null token → null. */
  private def str(p: JsonParser): String = p.currentToken() match {
    case JsonToken.VALUE_NULL => null
    case JsonToken.VALUE_STRING => p.getText
    case t => throw new IllegalStateException(s"expected string, got $t")
  }

  /** Current value: array of strings (or null → Nil). */
  private def strSeq(p: JsonParser): Seq[String] = p.currentToken() match {
    case JsonToken.VALUE_NULL => Nil
    case JsonToken.START_ARRAY =>
      val b = Vector.newBuilder[String]
      var t = p.nextToken()
      while (t != JsonToken.END_ARRAY) {
        b += (if (t == JsonToken.VALUE_NULL) null else p.getText)
        t = p.nextToken()
      }
      b.result()
    case t => throw new IllegalStateException(s"expected array, got $t")
  }

  /** Current value: array of longs (or null → Nil). */
  private def longSeq(p: JsonParser): Seq[Long] = p.currentToken() match {
    case JsonToken.VALUE_NULL => Nil
    case JsonToken.START_ARRAY =>
      val b = Vector.newBuilder[Long]
      var t = p.nextToken()
      while (t != JsonToken.END_ARRAY) { b += p.getLongValue; t = p.nextToken() }
      b.result()
    case t => throw new IllegalStateException(s"expected array, got $t")
  }

  // ---- model readers -------------------------------------------------

  /** Parser positioned ON START_OBJECT; returns with parser ON END_OBJECT. */
  private def columnStats(p: JsonParser): ColumnStats = {
    expect(p, JsonToken.START_OBJECT)
    var min: Option[String] = None
    var max: Option[String] = None
    var nulls = 0L
    while (p.nextToken() != JsonToken.END_OBJECT) {
      val f = p.currentName(); p.nextToken()
      f match {
        case "min" => min = Option(str(p))
        case "max" => max = Option(str(p))
        case "nullCount" => nulls = long(p)
        case _ => p.skipChildren()
      }
    }
    ColumnStats(min, max, nulls)
  }

  private def statsMap(p: JsonParser): Map[String, ColumnStats] =
    p.currentToken() match {
      case JsonToken.VALUE_NULL => Map.empty
      case JsonToken.START_OBJECT =>
        val b = Map.newBuilder[String, ColumnStats]
        while (p.nextToken() != JsonToken.END_OBJECT) {
          val k = p.currentName(); p.nextToken()
          b += k -> columnStats(p)
        }
        b.result()
      case t => throw new IllegalStateException(s"expected object, got $t")
    }

  private def fileMeta(p: JsonParser): FileMeta = {
    expect(p, JsonToken.START_OBJECT)
    var rows = 0L; var bytes = 0L
    var stats: Map[String, ColumnStats] = Map.empty
    while (p.nextToken() != JsonToken.END_OBJECT) {
      val f = p.currentName(); p.nextToken()
      f match {
        case "rows" => rows = long(p)
        case "bytes" => bytes = long(p)
        case "stats" => stats = statsMap(p)
        case _ => p.skipChildren()
      }
    }
    FileMeta(rows, bytes, stats)
  }

  private def fileMetaMap(p: JsonParser): Map[String, FileMeta] =
    p.currentToken() match {
      case JsonToken.VALUE_NULL => Map.empty
      case JsonToken.START_OBJECT =>
        val b = Map.newBuilder[String, FileMeta]
        while (p.nextToken() != JsonToken.END_OBJECT) {
          val k = p.currentName(); p.nextToken()
          b += k -> fileMeta(p)
        }
        b.result()
      case t => throw new IllegalStateException(s"expected object, got $t")
    }

  private def deltasMap(p: JsonParser): Map[String, Seq[String]] =
    p.currentToken() match {
      case JsonToken.VALUE_NULL => Map.empty
      case JsonToken.START_OBJECT =>
        val b = Map.newBuilder[String, Seq[String]]
        while (p.nextToken() != JsonToken.END_OBJECT) {
          val k = p.currentName(); p.nextToken()
          b += k -> strSeq(p)
        }
        b.result()
      case t => throw new IllegalStateException(s"expected object, got $t")
    }

  /** Parser ON START_OBJECT; returns with parser ON END_OBJECT. */
  def segmentMeta(p: JsonParser): SegmentMeta = {
    expect(p, JsonToken.START_OBJECT)
    var id = 0L; var status = ""; var format = ""
    var files: Seq[String] = Nil
    var rowCount = 0L; var sizeBytes = 0L
    var stats: Map[String, ColumnStats] = Map.empty
    var sortColumns: Seq[String] = Nil
    var createdAt = 0L
    var externalPath: Option[String] = None
    var lastBatchId = -1L
    var fm: Map[String, FileMeta] = Map.empty
    var removedFiles: Seq[String] = Nil
    var deltas: Map[String, Seq[String]] = Map.empty
    var origin = "load"
    var retiredAt = 0L
    var rewriteOf: Seq[String] = Nil
    var rewriteFp = ""
    while (p.nextToken() != JsonToken.END_OBJECT) {
      val f = p.currentName(); p.nextToken()
      f match {
        case "id" => id = long(p)
        case "status" => status = str(p)
        case "format" => format = str(p)
        case "files" => files = strSeq(p)
        case "rowCount" => rowCount = long(p)
        case "sizeBytes" => sizeBytes = long(p)
        case "stats" => stats = statsMap(p)
        case "sortColumns" => sortColumns = strSeq(p)
        case "createdAt" => createdAt = long(p)
        case "externalPath" => externalPath = Option(str(p))
        case "lastBatchId" => lastBatchId = long(p)
        case "fileMeta" => fm = fileMetaMap(p)
        case "removedFiles" => removedFiles = strSeq(p)
        case "deltas" => deltas = deltasMap(p)
        case "origin" => origin = str(p)
        case "retiredAt" => retiredAt = long(p)
        case "rewriteOf" => rewriteOf = strSeq(p)
        case "rewriteFp" => rewriteFp = str(p)
        case _ => p.skipChildren() // derived props ("visible"), future fields
      }
    }
    SegmentMeta(id, status, format, files, rowCount, sizeBytes, stats,
      sortColumns, createdAt, externalPath, lastBatchId, fm, removedFiles,
      deltas, origin, retiredAt, rewriteOf, rewriteFp)
  }

  private def segmentSeq(p: JsonParser): Seq[SegmentMeta] =
    p.currentToken() match {
      case JsonToken.VALUE_NULL => Nil
      case JsonToken.START_ARRAY =>
        val b = Vector.newBuilder[SegmentMeta]
        while (p.nextToken() != JsonToken.END_ARRAY) b += segmentMeta(p)
        b.result()
      case t => throw new IllegalStateException(s"expected array, got $t")
    }

  /** Whole-document TableStatus (manifest / older ckpt-*.json / jsonl header). */
  def tableStatus(p: JsonParser): TableStatus = {
    if (p.currentToken() == null) p.nextToken()
    expect(p, JsonToken.START_OBJECT)
    var version = 0L
    var segments: Seq[SegmentMeta] = Nil
    var ckptV = -1L; var prevCkptV = -1L; var ckptId = ""
    var maxSegmentId = -1L; var committedAt = -1L
    while (p.nextToken() != JsonToken.END_OBJECT) {
      val f = p.currentName(); p.nextToken()
      f match {
        case "version" => version = long(p)
        case "segments" => segments = segmentSeq(p)
        case "ckptV" => ckptV = long(p)
        case "prevCkptV" => prevCkptV = long(p)
        case "ckptId" => ckptId = str(p)
        case "maxSegmentId" => maxSegmentId = long(p)
        case "committedAt" => committedAt = long(p)
        case _ => p.skipChildren() // derived "nextSegmentId", future fields
      }
    }
    TableStatus(version, segments, ckptV, prevCkptV, ckptId, maxSegmentId,
      committedAt)
  }

  /** Whole-document StatusDelta (delta-*.json). */
  def statusDelta(p: JsonParser): StatusDelta = {
    if (p.currentToken() == null) p.nextToken()
    expect(p, JsonToken.START_OBJECT)
    var version = 0L
    var upserts: Seq[SegmentMeta] = Nil
    var removes: Seq[Long] = Nil
    var committedAt = -1L
    while (p.nextToken() != JsonToken.END_OBJECT) {
      val f = p.currentName(); p.nextToken()
      f match {
        case "version" => version = long(p)
        case "upserts" => upserts = segmentSeq(p)
        case "removes" => removes = longSeq(p)
        case "committedAt" => committedAt = long(p)
        case _ => p.skipChildren()
      }
    }
    StatusDelta(version, upserts, removes, committedAt)
  }

  // ---- entry points ---------------------------------------------------

  /** One-time JIT warm-up, run at object init (first use): the very
    * first big checkpoint parse of a JVM otherwise runs this loop at
    * interpreter/C1 speed (measured ~7x slower than steady state).
    * 30k parses of one representative line push every method here plus
    * the jackson-core hot path over the C2 compile thresholds in
    * ~0.2-0.4 s, once per process. Code warm-up only — no data is
    * cached. */
  private val warm: Unit = {
    val line = ("""{"id":42,"status":"SUCCESS","format":"parquet",""" +
      """"files":["part-0.parquet","part-1.parquet"],"rowCount":10,""" +
      """"sizeBytes":4096,"stats":{"k":{"min":"1","max":"9","nullCount":0}},""" +
      """"sortColumns":["k"],"createdAt":1700000000000,"externalPath":null,""" +
      """"lastBatchId":-1,"fileMeta":{"part-0.parquet":{"rows":10,"bytes":4096,""" +
      """"stats":{"k":{"min":"1","max":"9","nullCount":0}}}},"removedFiles":[],""" +
      """"deltas":{"part-0.parquet":["d0.bin"]},"origin":"load","retiredAt":0,""" +
      """"rewriteOf":["ab"],"rewriteFp":"cd","visible":true}""").getBytes("UTF-8")
    var i = 0
    while (i < 30000) { segmentMetaOf(line, 0, line.length); i += 1 }
  }

  def segmentMetaOf(bytes: Array[Byte], off: Int, len: Int): SegmentMeta = {
    val p = factory.createParser(bytes, off, len)
    try { p.nextToken(); segmentMeta(p) } finally p.close()
  }

  def tableStatusOf(in: java.io.InputStream): TableStatus = {
    val p = factory.createParser(in)
    try tableStatus(p) finally p.close()
  }

  def statusDeltaOf(in: java.io.InputStream): StatusDelta = {
    val p = factory.createParser(in)
    try statusDelta(p) finally p.close()
  }

  def tableStatusOf(bytes: Array[Byte], off: Int, len: Int): TableStatus = {
    val p = factory.createParser(bytes, off, len)
    try tableStatus(p) finally p.close()
  }

  def statusDeltaOf(bytes: Array[Byte], off: Int, len: Int): StatusDelta = {
    val p = factory.createParser(bytes, off, len)
    try statusDelta(p) finally p.close()
  }
}
