package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, EOFException}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.time.format.DateTimeFormatter
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.SyntheticCorpus

/** WARC source/sink — ISO 28500, the interchange format Common-Crawl-style
  * corpora actually ship in. `write` exports a page table to `.warc.gz`
  * files with EVERY RECORD ITS OWN GZIP MEMBER (the WARC convention, and
  * what makes the files splittable: a scale reader can seek to any member
  * boundary and start parsing — the custom-InputFormat path at 100 TB).
  * `read` ingests them back into the engine's canonical input shape
  * `(url, warc_ts, html, text, lang)`, deriving `text` with the SAME
  * single-pass strip the fetch path uses, so a crawl over a WARC-ingested
  * corpus is byte-identical to one over the generated corpus (WarcSpec).
  *
  * Records are WARC-Type: resource carrying the raw html payload (valid
  * per the spec; "response" adds an HTTP envelope that synthetic corpora
  * don't have). `WARC-Date` keeps microsecond precision (WARC 1.1 allows
  * fractional seconds); `lang` rides the Common-Crawl-style
  * `WARC-Identified-Content-Language` header; record ids are
  * DETERMINISTIC urn:uuid values derived from the url (md5), never
  * random — exports are reproducible byte-for-byte. */
object Warc {

  private val CRLF = "\r\n"
  private val TS = DateTimeFormatter.ISO_INSTANT

  /** One WARC record (headers + payload + trailing blank lines), raw. */
  private[sources] def record(url: String, ts: java.time.Instant,
                              html: Array[Byte], lang: String): Array[Byte] = {
    val id = java.util.UUID.nameUUIDFromBytes(url.getBytes(UTF_8))
    val head = new StringBuilder()
      .append("WARC/1.1").append(CRLF)
      .append("WARC-Type: resource").append(CRLF)
      .append("WARC-Record-ID: <urn:uuid:").append(id).append(">").append(CRLF)
      .append("WARC-Target-URI: ").append(url).append(CRLF)
      .append("WARC-Date: ").append(TS.format(ts)).append(CRLF)
      .append("WARC-Identified-Content-Language: ").append(lang).append(CRLF)
      .append("Content-Type: text/html").append(CRLF)
      .append("Content-Length: ").append(html.length).append(CRLF)
      .append(CRLF).toString.getBytes(UTF_8)
    val out = new ByteArrayOutputStream(head.length + html.length + 4)
    out.write(head); out.write(html)
    out.write(CRLF.getBytes(UTF_8)); out.write(CRLF.getBytes(UTF_8))
    out.toByteArray
  }

  /** Export (url, warc_ts, html, lang) rows as `part-<p>.warc.gz` files
    * under `dir`, one gzip member per record. Rows are hash-distributed
    * on url and sorted within each file, so the export is DETERMINISTIC
    * for a given (table, nFiles) regardless of input partitioning. */
  def write(pages: DataFrame, dir: String, nFiles: Int = 4): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    pages.select(col("url").cast("string"), col("warc_ts").cast("timestamp"),
        col("html").cast("binary"), col("lang").cast("string"))
      .repartition(nFiles, col("url"))
      .sortWithinPartitions("url")
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val path = java.nio.file.Paths.get(dir, f"part-$pid%05d.warc.gz")
          val fos = java.nio.file.Files.newOutputStream(path)
          try rows.foreach { r =>
            // one gzip MEMBER per record: finish() closes the member, the
            // next record opens a fresh one on the same byte stream
            val gz = new GZIPOutputStream(fos)
            gz.write(record(r.getString(0), r.getTimestamp(1).toInstant,
              r.getAs[Array[Byte]](2), r.getString(3)))
            gz.finish()
          } finally fos.close()
        }
      }
  }

  /** Parse every record of one (possibly multi-member) .warc.gz blob. */
  private[sources] def parseWarcGz(
      bytes: Array[Byte]): Iterator[(String, java.sql.Timestamp, Array[Byte], String)] = {
    // Java's GZIPInputStream reads concatenated members as one stream
    val in = new DataInputStream(new GZIPInputStream(new ByteArrayInputStream(bytes)))
    def readLine(): String = {
      val b = new ByteArrayOutputStream(128)
      var c = in.read()
      if (c < 0) throw new EOFException
      while (c >= 0 && c != '\n') { b.write(c); c = in.read() }
      new String(b.toByteArray, ISO_8859_1).stripSuffix("\r")
    }
    new Iterator[(String, java.sql.Timestamp, Array[Byte], String)] {
      private var nextRec: (String, java.sql.Timestamp, Array[Byte], String) = _
      private def advance(): Unit = {
        nextRec = null
        // EOF is a CLEAN end only here, before the first header line of a
        // record. Swallowing EOF around the whole parse silently dropped a
        // truncated final record (e.g. a .warc.gz read while still being
        // copied into the input directory): silent data loss in the ingest
        // path. EOF after 'WARC/' or inside readFully now throws, letting
        // the caller quarantine/retry the file.
        var l: String = null
        try {
          l = readLine()
          while (l.isEmpty) l = readLine() // inter-record blank lines
        } catch { case _: EOFException => return } // clean end of archive
        try {
          require(l.startsWith("WARC/"), s"not a WARC record header: '$l'")
          var url: String = null; var ts: java.time.Instant = null
          var lang = ""; var len = -1
          var h = readLine()
          while (h.nonEmpty) {
            val Array(k, v) = h.split(":", 2).map(_.trim)
            k.toLowerCase match {
              case "warc-target-uri" => url = v
              case "warc-date" => ts = java.time.Instant.parse(v)
              case "warc-identified-content-language" => lang = v
              case "content-length" => len = v.toInt
              case _ => ()
            }
            h = readLine()
          }
          require(url != null && ts != null && len >= 0, "missing mandatory WARC headers")
          val payload = new Array[Byte](len)
          in.readFully(payload)
          nextRec = (url, java.sql.Timestamp.from(ts), payload, lang)
        } catch {
          case e: EOFException =>
            throw new java.io.IOException(
              "truncated WARC archive: EOF inside a record (headers seen: " +
                s"'$l' ...) — refusing to silently drop the tail", e)
        }
      }
      advance()
      override def hasNext: Boolean = nextRec != null
      override def next(): (String, java.sql.Timestamp, Array[Byte], String) = {
        val r = nextRec; advance(); r
      }
    }
  }

  /** Ingest a directory of .warc.gz files as the engine's canonical input
    * table (url, warc_ts, html, text, lang) — `text` derived with the
    * fetch path's own strip. binaryFile is fine at fixture scale (whole
    * file per row); the 100-TB path swaps in a member-splitting
    * InputFormat, same parse per record. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", "*.warc.gz").load(dir)
      .select(col("content"))
      .as[Array[Byte]]
      .mapPartitions(_.flatMap(parseWarcGz).map { case (url, ts, html, lang) =>
        // text derives inside the SAME typed pass with the fetch path's own
        // single-pass strip kernel — no UDF, no second scan of the payload
        (url, ts, html, SyntheticCorpus.stripHtml(new String(html, UTF_8)), lang)
      })
      .toDF("url", "warc_ts", "html", "text", "lang")
  }
}
