package graft.ingest

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Read-only HTTP façade over the ingester output directory (H1,
  * reference IngesterHttpServer, cpp/ingester/src/ingester_http_server
  * .cpp:38-51):
  *
  *  - `GET /api/streams`                    — list + per-stream metadata
  *  - `GET /api/streams/{s}`                — one stream's metadata
  *  - `GET /api/streams/{s}/data.parquet`   — the compacted parquet,
  *    streamed in 16 MB chunks (reference chunk size, :89-147)
  *  - `GET /api/stats`                      — the running daemon's
  *    stats JSON ([[IngesterDaemon.statsJson]]), when `stats` is given
  *
  * The data endpoint additionally speaks single-range HTTP Range
  * requests (`Accept-Ranges: bytes`, 206/`Content-Range`, 416 on an
  * unsatisfiable range) plus `ETag`/`If-None-Match`/`If-Range`: real
  * analytic clients of a parquet-over-HTTP endpoint (duckdb httpfs,
  * arrow's HTTP reader) read the footer and then per-row-group byte
  * ranges instead of the whole file — without Range support every
  * such reader silently falls back to a full-file download. The
  * reference serves whole files only; this is the analytic-layer
  * extension (SURVEY §2.3 round 14). Multi-range requests are
  * deliberately answered with the full 200 body (allowed by RFC 9110
  * §14.2; no analytic client issues them).
  *
  * JDK-built-in HttpServer: the façade is deliberately outside Spark's
  * scope (SURVEY §2 H1) — it serves whatever the ingester wrote.
  */
final class IngesterHttpServer(outRoot: Path, port: Int = 7487,
    stats: Option[() => String] = None) {

  private val ChunkBytes = 16 * 1024 * 1024

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/api/streams", (ex: HttpExchange) => handle(ex))
  stats.foreach(json => server.createContext("/api/stats",
    (ex: HttpExchange) =>
      try respond(ex, 200, "application/json", json())
      finally ex.close()))

  /** Bound port (use port=0 for ephemeral in tests). */
  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)

  private def streams: Seq[String] =
    Option(outRoot.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory &&
        Files.exists(f.toPath.resolve("metadata.json")))
      .map(_.getName).toSeq.sorted

  // absolute+normalized so safeStreamDir's parent check works for
  // relative roots too (a "." root's resolved children have a null
  // parent after normalize)
  private val servedRoot = outRoot.toAbsolutePath.normalize()

  /** URL stream segment -> directory under the served root, or None for
    * anything that could escape it. Stream names never contain path
    * separators (StreamStore.createStream forbids both '/' and '\\'),
    * so any separator or dot-segment in the request is a traversal
    * attempt, not a name — e.g. `/api/streams/../../etc/x/data.parquet`
    * must 404, never read outside the root. */
  private def safeStreamDir(s: String): Option[Path] =
    if (s.isEmpty || s.contains('/') || s.contains('\\') ||
      s == "." || s == "..") None
    else {
      val p = servedRoot.resolve(s).normalize()
      if (p.getParent == servedRoot) Some(p) else None
    }

  private def metadataJson(s: String): Option[String] =
    safeStreamDir(s).map(_.resolve("metadata.json"))
      .filter(Files.exists(_))
      .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8))

  private def handle(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath.stripPrefix("/api/streams")
        .stripPrefix("/").stripSuffix("/")
      path match {
        case "" =>
          val body = streams
            .map(s => s""""$s":${metadataJson(s).getOrElse("{}")}""")
            .mkString("{", ",", "}")
          respond(ex, 200, "application/json", body)
        case p if p.endsWith("/data.parquet") =>
          val stream = p.stripSuffix("/data.parquet")
          val safe = safeStreamDir(stream).map(_.resolve("data.parquet"))
            .filter(Files.exists(_))
          if (safe.isEmpty) respond(ex, 404, "text/plain", "not found")
          else {
            val f = safe.get
            // parquet "file" may be a directory (spark part layout): serve
            // the single part file inside it. Close the listing stream —
            // an unclosed DirectoryStream leaks one fd per request.
            val target =
              if (Files.isDirectory(f)) {
                val ls = Files.list(f)
                try ls.filter(_.getFileName.toString.endsWith(".parquet"))
                  .findFirst().orElseThrow()
                finally ls.close()
              } else f
            serveData(ex, target)
          }
        case stream =>
          metadataJson(stream) match {
            case Some(j) => respond(ex, 200, "application/json", j)
            case None    => respond(ex, 404, "text/plain", "not found")
          }
      }
    } catch {
      case e: Exception =>
        try respond(ex, 500, "text/plain", String.valueOf(e.getMessage))
        catch { case _: Exception => }
    } finally ex.close()

  /** The data.parquet body with conditional/range semantics. ETag is
    * (size, mtime-ns) — the ingester replaces data.parquet atomically
    * on compaction, so any rewrite moves both; a client caching row
    * groups by range revalidates with If-Range/If-None-Match and never
    * splices bytes of two different compactions together. */
  private def serveData(ex: HttpExchange, target: Path): Unit = {
    val size = Files.size(target)
    val etag = "\"" + size + "-" +
      Files.getLastModifiedTime(target).to(
        java.util.concurrent.TimeUnit.NANOSECONDS) + "\""
    val h = ex.getResponseHeaders
    h.set("Content-Type", "application/octet-stream")
    h.set("Accept-Ranges", "bytes")
    h.set("ETag", etag)
    def header(name: String): Option[String] =
      Option(ex.getRequestHeaders.getFirst(name))
    if (header("If-None-Match").contains(etag)) {
      ex.sendResponseHeaders(304, -1); return
    }
    // If-Range mismatch = the cached representation is stale: ignore
    // the Range and send the current full body (RFC 9110 §13.1.5)
    val rangeHdr = header("Range")
      .filter(_ => header("If-Range").forall(_ == etag))
    parseRange(rangeHdr, size) match {
      case RangeFull =>
        ex.sendResponseHeaders(200, size)
        val out = ex.getResponseBody
        streamFile(target, out, 0L, size)
        out.close()
      case RangeUnsatisfiable =>
        h.set("Content-Range", s"bytes */$size")
        ex.sendResponseHeaders(416, -1)
      case RangeSlice(from, to) =>
        h.set("Content-Range", s"bytes $from-$to/$size")
        ex.sendResponseHeaders(206, to - from + 1)
        val out = ex.getResponseBody
        streamFile(target, out, from, to - from + 1)
        out.close()
    }
  }

  private sealed trait RangeResult
  private case object RangeFull extends RangeResult
  private case object RangeUnsatisfiable extends RangeResult
  private case class RangeSlice(from: Long, to: Long) extends RangeResult

  /** One `bytes=` range per RFC 9110 §14.1.2: `a-b`, `a-` (to EOF),
    * `-n` (last n bytes). Multi-range and malformed specs serve the
    * full body (a server MAY ignore Range); a syntactically valid but
    * unsatisfiable range (start past EOF, or `-0`) is 416. */
  private def parseRange(hdr: Option[String], size: Long): RangeResult =
    hdr.map(_.trim) match {
      case Some(s) if s.startsWith("bytes=") && !s.contains(',') =>
        s.stripPrefix("bytes=").trim match {
          case SuffixRange(n) =>
            val len = n.toLong
            if (len <= 0) RangeUnsatisfiable
            else if (size == 0) RangeUnsatisfiable
            else RangeSlice(math.max(0L, size - len), size - 1)
          case FromToRange(a, b) =>
            val from = a.toLong
            val to = if (b.isEmpty) size - 1 else math.min(b.toLong, size - 1)
            if (from >= size || (b.nonEmpty && b.toLong < from))
              RangeUnsatisfiable
            else RangeSlice(from, to)
          case _ => RangeFull
        }
      case _ => RangeFull
    }

  private val SuffixRange = "-(\\d+)".r
  private val FromToRange = "(\\d+)-(\\d*)".r

  private def streamFile(f: Path, out: OutputStream, offset: Long,
      length: Long): Unit = {
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.READ)
    try {
      ch.position(offset)
      var remaining = length
      val buf = java.nio.ByteBuffer.allocate(
        math.min(ChunkBytes.toLong, math.max(1L, length)).toInt)
      while (remaining > 0) {
        buf.clear()
        if (remaining < buf.capacity()) buf.limit(remaining.toInt)
        val n = ch.read(buf)
        if (n < 0) remaining = 0
        else {
          out.write(buf.array(), 0, n)
          remaining -= n
        }
      }
    } finally ch.close()
  }

  private def respond(ex: HttpExchange, code: Int, ctype: String, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, bytes.length)
    val out = ex.getResponseBody
    out.write(bytes)
    out.close()
  }
}

/** `main`: serve an ingester output dir (reference ingester_main
  * default port 7487).
  */
object IngesterHttpMain {
  def main(args: Array[String]): Unit = {
    val root = java.nio.file.Paths.get(args(0))
    val port = args.lift(1).map(_.toInt).getOrElse(7487)
    val srv = new IngesterHttpServer(root, port)
    srv.start()
    System.err.println(s"serving $root on :${srv.boundPort}")
    Thread.currentThread().join()
  }
}
