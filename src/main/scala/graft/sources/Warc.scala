package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** WARC (ISO 28500) web-archive source/sink — the raw-crawl interchange
  * format LLM pipelines actually start from (CommonCrawl ships WARC;
  * C4/CCNet/RefinedWeb all open with a WARC scan).
  *
  * Format (WARC/1.0-1.1): a file is a sequence of records, each
  * `WARC/1.0\r\n`, CRLF-terminated `Name: value` header lines, a blank
  * line, exactly `Content-Length` payload bytes, then `\r\n\r\n`. For
  * `WARC-Type: response` records the payload is a full HTTP response
  * (status line, headers, blank line, body).
  *
  * Contract, designed for the 100 TB shape of real crawls:
  *
  *  - **Framing is byte-length-authoritative.** Records are walked by
  *    `Content-Length`, never by scanning for a delimiter — a payload
  *    containing the literal bytes `WARC/1.0` (HTML quoting a WARC
  *    spec…) cannot desynchronise the parse. The HTTP body is likewise
  *    bounded by the WARC length, NOT by the HTTP `Content-Length`
  *    header, which real crawls routinely get wrong (truncated fetches).
  *  - **Parallelism is the file count.** Each WARC file parses inside
  *    exactly one task, bytes fetched through the Hadoop FileSystem
  *    API (crawl archives ship as ~1 GB shards, tens of thousands per
  *    dump — natural 100 TB parallelism; a >2 GB shard is refused
  *    loudly rather than OOMing). `.gz` shards are decompressed
  *    streamwise; Java's `GZIPInputStream` reads concatenated
  *    members, so CommonCrawl's record-per-member layout decodes in
  *    one pass without per-record reopening.
  *  - **Malformed records fail loudly** (FAILFAST analog of
  *    [[JsonlDocs.read]]): a record whose header block or length
  *    framing is broken raises with the file and byte offset; pass
  *    `permissive = true` to skip the remainder of that FILE instead
  *    (framing damage is not recoverable mid-file) and keep the records
  *    already parsed.
  *  - Bodies decode as UTF-8 with replacement (crawl reality: declared
  *    charsets lie; byte-exact consumers should re-read the payload
  *    from `body` only when `http_status` is present and the record
  *    type is `response` — binary payloads belong in resource records).
  *
  * The sink writes one `part-NNNNN.warc[.gz]` file per partition, each
  * opening with a `warcinfo` record, response records framed exactly as
  * above — [[graft.queries.TextQueries]] q199 gates the
  * write→read→HTTP-parse round trip value-exactly against a closed-form
  * DuckDB oracle.
  */
object Warc {

  /** Parsed record relation: WARC headers lifted to columns, HTTP
    * response payloads parsed one level further. Non-response records
    * carry the raw payload in `body` with null `http_*`.
    */
  val schema: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("record_ix", IntegerType),
    StructField("warc_type", StringType),
    StructField("record_id", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", StringType),
    StructField("refers_to", StringType),
    StructField("http_status", IntegerType),
    StructField("http_content_type", StringType),
    StructField("body", StringType)))

  private val CRLF = "\r\n".getBytes(ISO_8859_1)

  /** Write a page relation as WARC response records, one file per
    * partition (pre-`repartition` to the shard count you want).
    * Expected columns: `record_id`, `target_uri`, `warc_date`
    * (ISO-8601 string), `http_content_type`, `http_status` (int),
    * `body` (string, UTF-8 on the wire). Rows within a partition are
    * written in iteration order; `gzip = true` emits one gzip member
    * per RECORD (the CommonCrawl layout, so future range readers can
    * seek) concatenated into `part-NNNNN.warc.gz`.
    *
    * For WET-style text archives — `conversion` records carrying the
    * EXTRACTED text of each page, the form CommonCrawl actually
    * publishes alongside raw WARC — use [[writeConversions]].
    */
  def write(pages: DataFrame, path: String, gzip: Boolean = false,
      software: String = "graft-warc/1.0"): Unit = {
    val confSer = new SerializableConfiguration(
      pages.sparkSession.sessionState.newHadoopConf())
    writeShards(pages.select(Seq("record_id", "target_uri", "warc_date",
      "http_content_type", "http_status", "body").map(col): _*),
      path, gzip, software, confSer, responseRecord)
  }

  /** Write a WET-style text archive: one `conversion` record per row —
    * the extracted-text form CommonCrawl publishes next to raw WARC
    * and most text pipelines actually consume. Expected columns:
    * `record_id`, `target_uri`, `warc_date`, `body` (the extracted
    * text); an optional `refers_to` column becomes `WARC-Refers-To`
    * (provenance link back to the response record). Sharding/gzip
    * semantics as [[write]]; read back with
    * `read(…, types = Set("conversion"))` (null `http_*`, payload in
    * `body`).
    */
  def writeConversions(texts: DataFrame, path: String,
      gzip: Boolean = false, software: String = "graft-warc/1.0"): Unit = {
    val spark = texts.sparkSession
    val confSer = new SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val hasRef = texts.columns.contains("refers_to")
    val base = Seq("record_id", "target_uri", "warc_date", "body")
    val cols = if (hasRef) base :+ "refers_to" else base
    writeShards(texts.select(cols.map(col): _*), path, gzip, software,
      confSer, conversionRecord(hasRef))
  }

  private def writeShards(rows: DataFrame, path: String, gzip: Boolean,
      software: String, confSer: SerializableConfiguration,
      mk: Row => Array[Byte]): Unit = {
    val spark = rows.sparkSession
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    val ext = if (gzip) ".warc.gz" else ".warc"
    rows.rdd
      .mapPartitionsWithIndex { (ix, it) =>
        val p = new Path(path, f"part-$ix%05d$ext")
        val fsx = p.getFileSystem(confSer.value)
        val os = fsx.create(p, true)
        try {
          // gzip: one fully-closed member per record, concatenated —
          // the CommonCrawl layout (seekable per-record members)
          def emit(bytes: Array[Byte]): Unit =
            if (gzip) {
              val bo = new ByteArrayOutputStream(bytes.length / 2 + 64)
              val g = new GZIPOutputStream(bo)
              g.write(bytes); g.close()
              os.write(bo.toByteArray)
            } else os.write(bytes)
          emit(warcinfoRecord(software, f"part-$ix%05d$ext"))
          var n = 1L
          it.foreach { r =>
            emit(mk(r)); n += 1
          }
          Iterator.single(n)
        } finally os.close()
      }
      .count(): Unit
  }

  private def conversionRecord(hasRef: Boolean)(r: Row): Array[Byte] = {
    val payload = Option(r.getAs[String]("body")).getOrElse("")
      .getBytes(UTF_8)
    val refs = if (hasRef) Option(r.getAs[String]("refers_to"))
      .map("WARC-Refers-To" -> _).toSeq else Seq.empty
    record(Seq(
      "WARC-Type" -> "conversion",
      "WARC-Record-ID" -> r.getAs[String]("record_id"),
      "WARC-Date" -> r.getAs[String]("warc_date"),
      "WARC-Target-URI" -> r.getAs[String]("target_uri")) ++ refs ++ Seq(
      "Content-Type" -> "text/plain",
      "Content-Length" -> payload.length.toString), payload)
  }

  private def warcinfoRecord(software: String, filename: String): Array[Byte] = {
    val payload = (s"software: $software\r\nformat: WARC File Format 1.1\r\n")
      .getBytes(UTF_8)
    record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:graft:warcinfo:$filename>",
      "WARC-Date" -> "2000-01-01T00:00:00Z",
      "WARC-Filename" -> filename,
      "Content-Type" -> "application/warc-fields",
      "Content-Length" -> payload.length.toString), payload)
  }

  private def responseRecord(r: Row): Array[Byte] = {
    val body = Option(r.getAs[String]("body")).getOrElse("").getBytes(UTF_8)
    val status = if (r.isNullAt(r.fieldIndex("http_status"))) 200
      else r.getAs[Int]("http_status")
    val ctype = Option(r.getAs[String]("http_content_type"))
      .getOrElse("text/html; charset=utf-8")
    val http = new ByteArrayOutputStream()
    http.write((s"HTTP/1.1 $status ${statusText(status)}\r\n" +
      s"Content-Type: $ctype\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(ISO_8859_1))
    http.write(body)
    val payload = http.toByteArray
    record(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> r.getAs[String]("record_id"),
      "WARC-Date" -> r.getAs[String]("warc_date"),
      "WARC-Target-URI" -> r.getAs[String]("target_uri"),
      "Content-Type" -> "application/http; msgtype=response",
      "Content-Length" -> payload.length.toString), payload)
  }

  private def statusText(code: Int): String = code match {
    case 200 => "OK"
    case 301 => "Moved Permanently"
    case 302 => "Found"
    case 304 => "Not Modified"
    case 404 => "Not Found"
    case 403 => "Forbidden"
    case 500 => "Internal Server Error"
    case _   => "Status"
  }

  private def record(headers: Seq[(String, String)],
      payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("WARC/1.0\r\n".getBytes(ISO_8859_1))
    headers.foreach { case (k, v) =>
      out.write(s"$k: $v\r\n".getBytes(ISO_8859_1)) }
    out.write(CRLF)
    out.write(payload)
    out.write(CRLF); out.write(CRLF)
    out.toByteArray
  }

  /** Scan WARC shards into the [[schema]] relation — ONE TASK PER
    * FILE, bytes fetched per-executor through the Hadoop FileSystem
    * API (the [[GeoTiff]] pattern). Not the `binaryFile` datasource:
    * that packs small files into ~128 MB partitions
    * (`maxPartitionBytes`), collapsing a 40-shard scan to ~4 tasks —
    * measured 4× wall-clock on the 1M-record probe. Real dumps ship
    * tens of thousands of ~1 GB shards, so file-grain tasks ARE the
    * natural 100 TB parallelism. `.gz` shards gunzip streamwise
    * including concatenated members (the record-per-member layout).
    * `types` prunes record types at the parse (default: responses
    * only — the near-universal crawl read); pass `Set.empty` for all
    * records including warcinfo/request.
    */
  def read(spark: SparkSession, path: String,
      types: Set[String] = Set("response"),
      permissive: Boolean = false): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(root)
    val files = (if (st.isDirectory) fs.listStatus(root).toSeq
      else Seq(st))
      .filter(s => s.isFile && (s.getPath.getName.endsWith(".warc") ||
        s.getPath.getName.endsWith(".warc.gz")))
      .map(_.getPath.toString)
      .sorted
    val confSer = new SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val rows = spark.sparkContext
      .parallelize(files, math.max(1, files.length))
      .flatMap { name =>
        val p = new Path(name)
        val fsx = p.getFileSystem(confSer.value)
        val len = fsx.getFileStatus(p).getLen
        require(len <= Int.MaxValue.toLong,
          s"$name: ${len}B shard exceeds the 2 GB parse buffer — " +
            "re-shard the archive")
        val in = fsx.open(p)
        val raw = new Array[Byte](len.toInt)
        try in.readFully(0L, raw) finally in.close()
        val bytes = if (name.endsWith(".gz")) gunzipAll(raw) else raw
        parseFile(name, bytes, types, permissive)
      }
    spark.createDataFrame(rows, schema)
  }

  /** STREAMING scan of a landing directory: new `*.warc[.gz]` shards
    * become micro-batches of raw (path, content) rows — feed each
    * batch through [[parseBatch]] inside `foreachBatch` (the house
    * ingestion shape, [[graft.streaming.EventStream]]). Built on the
    * `binaryFile` streaming source with its schema pinned explicitly
    * (required for streaming; no inference). The batch path re-reads
    * whole files as rows, so the per-shard 2 GB cap applies
    * (`spark.sql.sources.binaryFile.maxLength` guards it loudly);
    * partition packing is irrelevant here because a micro-batch holds
    * only the newly-landed shards.
    */
  def readStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.format("binaryFile")
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .option("pathGlobFilter", "*.warc*")
      .load(path)
      .select(col("path"), col("content"))

  /** Parse a (path, content) micro-batch from [[readStream]] into the
    * [[schema]] record relation — same framing/gzip/type-pruning
    * semantics as [[read]].
    */
  def parseBatch(batch: DataFrame, types: Set[String] = Set("response"),
      permissive: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    val rows = batch.select(col("path"), col("content")).rdd.flatMap { r =>
      val name = r.getAs[String]("path")
      val raw = r.getAs[Array[Byte]]("content")
      val bytes = if (name.endsWith(".gz")) gunzipAll(raw) else raw
      parseFile(name, bytes, types, permissive)
    }
    spark.createDataFrame(rows, schema)
  }

  /** Decompress a whole (possibly multi-member) gzip stream into one
    * parse buffer. The COMPRESSED size guard upstream is not enough on
    * its own — crawl archives routinely inflate 4–5×, so a ~1 GB
    * `.warc.gz` can decompress past the `Int`-offset parse buffer.
    * Decompressed bytes are therefore tracked too, and crossing
    * `maxBytes` (default: the 2 GB array limit, minus the JVM's
    * header slack) raises the same loud re-shard message instead of an
    * OutOfMemoryError mid-inflate.
    */
  private[graft] def gunzipAll(raw: Array[Byte],
      maxBytes: Long = Int.MaxValue.toLong - 16): Array[Byte] = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(raw), 65536)
    val out = new ByteArrayOutputStream(math.min(raw.length.toLong * 4,
      1L << 26).toInt)
    val buf = new Array[Byte](65536)
    var total = 0L
    var n = in.read(buf)
    while (n >= 0) {
      if (n > 0) {
        total += n
        require(total <= maxBytes,
          s"gzip member chain decompresses past ${maxBytes}B " +
            s"(${raw.length}B compressed) — exceeds the 2 GB parse " +
            "buffer; re-shard the archive")
        out.write(buf, 0, n)
      }
      n = in.read(buf)
    }
    out.toByteArray
  }

  private def parseFile(file: String, bytes: Array[Byte],
      types: Set[String], permissive: Boolean): Iterator[Row] = {
    val rows = Vector.newBuilder[Row]
    var off = 0
    var ix = 0
    var broken = false
    while (!broken && off < bytes.length) {
      // tolerate extra CRLFs between records (some writers pad)
      while (off + 1 < bytes.length &&
        bytes(off) == '\r' && bytes(off + 1) == '\n') off += 2
      if (off >= bytes.length) ()
      else {
        val headerEnd = indexOfDoubleCrlf(bytes, off)
        val ok = headerEnd >= 0 && startsWith(bytes, off, "WARC/")
        if (!ok) {
          if (!permissive) fail(file, off, "record header not found " +
            "(expected 'WARC/x.y' + CRLFCRLF-terminated header block)")
          broken = true
        } else {
          val headerText = new String(bytes, off, headerEnd - off, ISO_8859_1)
          val hdrs = headerText.split("\r\n").drop(1).iterator
            .map(_.split(":", 2))
            .collect { case Array(k, v) => (k.trim.toLowerCase, v.trim) }
            .toMap
          val len = hdrs.get("content-length").flatMap(_.toIntOption)
          val payloadStart = headerEnd + 4
          len match {
            case Some(l) if payloadStart + l <= bytes.length =>
              val wtype = hdrs.getOrElse("warc-type", "")
              if (types.isEmpty || types(wtype)) {
                rows += parseRecord(file, ix, wtype, hdrs, bytes,
                  payloadStart, l)
              }
              ix += 1
              off = payloadStart + l
            case _ =>
              if (!permissive) fail(file, off,
                s"bad Content-Length ${len.orNull} " +
                  s"(payload would end past ${bytes.length})")
              broken = true
          }
        }
      }
      if (off >= bytes.length) broken = true
    }
    rows.result().iterator
  }

  private def parseRecord(file: String, ix: Int, wtype: String,
      hdrs: Map[String, String], bytes: Array[Byte],
      start: Int, len: Int): Row = {
    val isHttp = hdrs.getOrElse("content-type", "")
      .startsWith("application/http")
    val (status, httpCt, bodyStart, bodyLen) =
      if (isHttp && wtype == "response") {
        val he = indexOfDoubleCrlf(bytes, start)
        if (he < 0 || he >= start + len) (None, None, start, len)
        else {
          val head = new String(bytes, start, he - start, ISO_8859_1)
          val lines = head.split("\r\n")
          val st = lines.headOption
            .flatMap(_.split(" ").lift(1)).flatMap(_.toIntOption)
          val ct = lines.iterator.drop(1).map(_.split(":", 2))
            .collectFirst {
              case Array(k, v) if k.trim.equalsIgnoreCase("content-type") =>
                v.trim }
          // body runs to the END OF THE WARC PAYLOAD — the HTTP
          // Content-Length header is advisory in crawl data
          (st, ct, he + 4, start + len - (he + 4))
        }
      } else (None, None, start, len)
    Row(file, ix, wtype,
      hdrs.get("warc-record-id").orNull,
      hdrs.get("warc-target-uri").orNull,
      hdrs.get("warc-date").orNull,
      hdrs.get("warc-refers-to").orNull,
      status.map(Int.box).orNull,
      httpCt.orNull,
      new String(bytes, bodyStart, bodyLen, UTF_8))
  }

  private def startsWith(bytes: Array[Byte], off: Int, s: String): Boolean = {
    val t = s.getBytes(ISO_8859_1)
    off + t.length <= bytes.length &&
      java.util.Arrays.equals(bytes, off, off + t.length, t, 0, t.length)
  }

  private def indexOfDoubleCrlf(bytes: Array[Byte], from: Int): Int = {
    var i = from
    val n = bytes.length - 3
    while (i < n) {
      if (bytes(i) == '\r' && bytes(i + 1) == '\n' &&
        bytes(i + 2) == '\r' && bytes(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  private def fail(file: String, off: Int, msg: String): Nothing =
    throw new IllegalArgumentException(
      s"malformed WARC record in $file at byte $off: $msg " +
        "(pass permissive=true to keep records parsed so far)")
}
