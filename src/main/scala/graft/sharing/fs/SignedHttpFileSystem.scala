package graft.sharing.fs

import java.io.InputStream
import java.net.URI
import java.net.http.{HttpRequest, HttpResponse}
import java.nio.ByteBuffer
import java.util.concurrent.CompletableFuture
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Read-only Hadoop FileSystem for Delta Sharing pre-signed URLs, scheme
  * `graftshare`.
  *
  * Pre-signed URLs carry auth in the query string, which Hadoop's stock
  * filesystems can't address — the reference hits the same wall and
  * smuggles URLs through `PartitionedFile.extensions`
  * (reference src/datasource/scan.rs:180-184, reader.rs:96-108). Here the
  * whole signed URL is encoded INTO the path:
  *
  *   graftshare:///u/<base64url(signed-url)>/<size>/<filename>.parquet
  *
  * so any Spark file source can scan it: `getFileStatus` answers from the
  * path alone (zero HTTP), and `open` streams with HTTP Range requests —
  * the same footer-then-column-chunks access pattern as the reference's
  * `AsyncFileReader` (reader.rs:25-49), but feeding Spark's vectorized
  * parquet reader. Executors resolve paths independently: nothing is
  * driver-resident, so a 1000-executor scan needs no shared state.
  */
final class SignedHttpFileSystem extends FileSystem {

  private var uri: URI = URI.create("graftshare:///")

  override def initialize(name: URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    uri = URI.create("graftshare:///")
  }

  override def getScheme: String = "graftshare"
  override def getUri: URI = uri

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val (url, size) = SignedHttpFileSystem.decode(f)
    new FSDataInputStream(new SignedHttpInputStream(url, size,
      math.max(bufferSize, 4 * 1024 * 1024),
      SignedHttpFileSystem.decodeRefresh(f), Option(statistics)))
  }

  override def getFileStatus(f: Path): FileStatus =
    if (SignedHttpFileSystem.isFilePath(f)) {
      val (_, size) = SignedHttpFileSystem.decode(f)
      new FileStatus(size, false, 1, 128L * 1024 * 1024,
        System.currentTimeMillis(), f)
    } else {
      // Synthetic table/partition directories (basePath checks during
      // partition discovery land here) — everything above a leaf file
      // "exists" as a directory.
      new FileStatus(0, true, 1, 0, System.currentTimeMillis(), f)
    }

  /** Leaf file paths list as themselves (they're self-contained). A
    * synthetic directory has no enumerable children — the file set lives
    * in the sharing server's listing, not in the path space — so listing
    * one throws instead of echoing the directory as its own child, which
    * would infinite-loop any recursive lister. Scans never hit this:
    * Spark receives explicit leaf paths from the connector. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (SignedHttpFileSystem.isFilePath(f)) Array(getFileStatus(f))
    else throw new UnsupportedOperationException(
      s"graftshare directories are synthetic and cannot be listed: $f " +
        "(file paths are self-contained; obtain them from the sharing listing)")

  override def setWorkingDirectory(d: Path): Unit = ()
  override def getWorkingDirectory: Path = new Path("graftshare:///")
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    throw new UnsupportedOperationException("graftshare is read-only")
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("graftshare is read-only")
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("graftshare is read-only")
  override def rename(src: Path, dst: Path): Boolean =
    throw new UnsupportedOperationException("graftshare is read-only")
  override def delete(f: Path, recursive: Boolean): Boolean =
    throw new UnsupportedOperationException("graftshare is read-only")
}

object SignedHttpFileSystem {
  private val enc = java.util.Base64.getUrlEncoder.withoutPadding()
  private val decoder = java.util.Base64.getUrlDecoder

  /** Install the scheme in a Hadoop configuration (idempotent). */
  def register(conf: org.apache.hadoop.conf.Configuration): Unit = {
    conf.set("fs.graftshare.impl", classOf[SignedHttpFileSystem].getName)
    // one FS instance per scheme is fine — paths are self-contained
    conf.setBooleanIfUnset("fs.graftshare.impl.disable.cache", false)
  }

  /** Signed URL + size → self-contained graftshare path:
    *
    *   graftshare:///t/<tableUid>[/k=v…]/f<base64url(url)>.<size>.parquet
    *
    * The URL+size live in the FILENAME, so every file of a table shares
    * the common base `graftshare:///t/<tableUid>` — pass that as the
    * `basePath` option and Spark's stock hive-style partition discovery
    * turns the `k=v` segments into typed, Catalyst-prunable partition
    * columns: partition-value materialization (reference scan.rs:160-229)
    * with zero custom reader code. Empty value ⇒ the hive
    * default-partition token ⇒ NULL. The `f` filename prefix keeps a
    * leading `-`/`_` in base64 from marking the file as hidden. */
  def encode(url: String, size: Long,
      partitionValues: Seq[(String, String)] = Seq.empty,
      tableUid: String = "flat",
      refresh: Option[RefreshSpec] = None): String = {
    val b64 = enc.encodeToString(url.getBytes("UTF-8"))
    val partSegs = partitionValues.map { case (k, v) =>
      val hv = if (v.isEmpty) "__HIVE_DEFAULT_PARTITION__" else hiveEscape(v)
      s"/$k=$hv"
    }.mkString
    val refreshSeg = refresh.map(r =>
      "." + enc.encodeToString(r.serialized.getBytes("UTF-8"))).getOrElse("")
    s"graftshare:///t/$tableUid$partSegs/f$b64$refreshSeg.$size.parquet"
  }

  /** Where to re-fetch a fresh pre-signed URL when the embedded one
    * expires mid-task (plan→execute gaps on a busy cluster routinely
    * exceed URL TTLs; the reference ignores this —
    * src/client/action.rs:196-200 is parsed but unused).
    *
    * The spec rides INSIDE the path (profile file path + table FQN +
    * file id), so any executor can refresh independently — no driver
    * state, no shared registry. The profile path must be readable on
    * executors (true for distributed filesystems / secret mounts; the
    * bearer token itself is never embedded in paths or logs).
    */
  final case class RefreshSpec(profilePath: String, share: String,
      schema: String, table: String, fileId: String,
      /** version-pinned (time travel) read: a refresh must re-list the
        * SAME snapshot, or an executor racing a table update would read
        * files from a different version than the plan. */
      version: Option[Long] = None) {
    def serialized: String =
      (Seq(profilePath, share, schema, table, fileId) ++
        version.map(_.toString)).map(
        java.net.URLEncoder.encode(_, "UTF-8")).mkString("|")
  }

  object RefreshSpec {
    def deserialize(s: String): RefreshSpec =
      s.split('|').map(java.net.URLDecoder.decode(_, "UTF-8")) match {
        case Array(p, sh, sc, t, id) => RefreshSpec(p, sh, sc, t, id)
        case Array(p, sh, sc, t, id, v) =>
          RefreshSpec(p, sh, sc, t, id, Some(v.toLong))
        case _ => throw new IllegalArgumentException(
          s"malformed refresh spec: $s")
      }
  }

  private[fs] def decodeRefresh(p: Path): Option[RefreshSpec] = {
    val core = p.getName.stripPrefix("f").stripSuffix(".parquet")
    core.split('.') match {
      case Array(_, refresh, _) =>
        Some(RefreshSpec.deserialize(
          new String(decoder.decode(refresh), "UTF-8")))
      case _ => None
    }
  }

  def basePath(tableUid: String): String = s"graftshare:///t/$tableUid"

  /** Hive-compatible path-name escaping (subset: enough for values that
    * contain separators; matches PartitioningUtils' unescape). */
  private def hiveEscape(v: String): String = v.flatMap { c =>
    if (c < ' ' || "\"#%'*/:=?\\{[]^".contains(c)) f"%%${c.toInt}%02X"
    else c.toString
  }

  /** Is this a leaf data-file path (vs a synthetic directory)? */
  def isFilePath(p: Path): Boolean = {
    val name = p.getName
    name.startsWith("f") && name.endsWith(".parquet") &&
      name.stripPrefix("f").stripSuffix(".parquet").contains('.')
  }

  /** graftshare path → (signed URL, size), both read from the filename
    * (`f<url64>[.<refresh64>].<size>.parquet`). */
  def decode(p: Path): (String, Long) = {
    val name = p.getName
    if (!name.startsWith("f") || !name.endsWith(".parquet"))
      throw new IllegalArgumentException(s"not a graftshare path: $p")
    name.stripPrefix("f").stripSuffix(".parquet").split('.') match {
      case Array(url64, size) =>
        (new String(decoder.decode(url64), "UTF-8"), size.toLong)
      case Array(url64, _, size) =>
        (new String(decoder.decode(url64), "UTF-8"), size.toLong)
      case _ => throw new IllegalArgumentException(s"not a graftshare path: $p")
    }
  }
}

/** A range GET that could not deliver the bytes it asked for: a URL the
  * store rejects, a response that does not match its request, or a
  * transient failure that outlasted the retries. The stream fails with
  * this rather than ever handing back wrong or short bytes. */
final class RangeReadException(message: String, cause: Throwable = null)
    extends java.io.IOException(message, cause)

/** Seekable, positioned-read HTTP stream over one signed URL. Sequential
  * reads pull `chunkSize` ranges; positioned reads (`read(pos, …)`) issue
  * exact-range GETs without disturbing the cursor; `readVectored` (the
  * parquet column-chunk path) merges nearby ranges into one GET.
  *
  * Every GET is checked against its request: a 206 must carry the
  * requested `Content-Range` and exactly that many bytes, and a 200 (a
  * store or CDN may ignore `Range`) is cut down to the range. 429, 5xx,
  * connection failures and short bodies are retried 3 times with the
  * REST client's backoff (100·2^n ms, or the response's `Retry-After`);
  * anything else fails with a [[RangeReadException]].
  *
  * If the signed URL has expired by the time a task reads it (4xx) and a
  * `RefreshSpec` is present, the stream re-queries the sharing server for
  * a fresh URL and retries — the per-task refresh story the reference
  * lacks (action.rs:196-200 parsed but unused). Fresh URLs are cached per
  * file id so a thousand tasks don't re-list a thousand times.
  *
  * `stats`, the owning FileSystem's statistics, counts one read op per
  * GET and the bytes handed to the caller, which is what Spark reports
  * as a task's input bytes.
  */
final class SignedHttpInputStream(url: String, size: Long, chunkSize: Int,
    refresh: Option[SignedHttpFileSystem.RefreshSpec] = None,
    stats: Option[FileSystem.Statistics] = None)
    extends FSInputStream {
  import SignedHttpInputStream.{Rejected, Transient, maxRetries}

  private var pos = 0L
  private var buf: Array[Byte] = Array.emptyByteArray
  private var bufStart = 0L
  @volatile private var activeUrl = refresh.flatMap(r =>
    SignedHttpInputStream.freshUrls.get(SignedHttpInputStream.cacheKey(r)))
    .getOrElse(url)

  /** GETs bytes `start..end` (inclusive) and returns `consume` applied to
    * a body positioned at `start`; `consume` reads with `readExactly`.
    *
    * Up to TWO refresh attempts on a 4xx: the first may return a CACHED
    * fresh URL (populated by another stream's listing); if that one has
    * expired too, the second attempt passes it as the failed URL, which
    * invalidates the cache entry and forces a real re-list. */
  private def fetch[T](start: Long, end: Long)(consume: InputStream => T): T = {
    var attempt = 0
    var refreshes = 0
    while (true) {
      try return fetchOnce(start, end, consume)
      catch {
        case Rejected(_) if refresh.isDefined && refreshes < 2 =>
          refreshes += 1
          activeUrl = SignedHttpInputStream.refreshUrl(refresh.get, activeUrl)
        case Rejected(code) => throw new RangeReadException(
          s"HTTP $code reading range $start-$end (signed URL may have expired)")
        case t: Transient
            if attempt < maxRetries && !Thread.currentThread().isInterrupted =>
          try Thread.sleep(
            graft.sharing.DeltaSharingClient.backoffMs(attempt, t.retryAfterMs))
          catch {
            case _: InterruptedException =>
              Thread.currentThread().interrupt()
              throw new java.io.InterruptedIOException(
                s"retry of range $start-$end interrupted")
          }
          attempt += 1
        case e: Transient => throw new RangeReadException(
          s"range $start-$end failed after ${attempt + 1} attempts: " +
            e.getMessage, e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def fetchOnce[T](start: Long, end: Long,
      consume: InputStream => T): T =
    try {
      val req = HttpRequest.newBuilder(URI.create(activeUrl))
        .header("Range", s"bytes=$start-$end").GET().build()
      val resp = graft.sharing.DeltaSharingClient.http.send(req,
        HttpResponse.BodyHandlers.ofInputStream())
      stats.foreach(_.incrementReadOps(1))
      val body = resp.body()
      try {
        resp.statusCode() match {
          case 206 => checkContentRange(resp, start, end)
          case 200 =>
            // the whole object: its length must be the file's, and the
            // range is cut out of it
            resp.headers().firstValueAsLong("Content-Length").ifPresent { n =>
              if (n != size) throw new RangeReadException(
                s"HTTP 200 body of $n bytes for a $size-byte object")
            }
            body.skipNBytes(start)
          case code if code == 429 || code >= 500 =>
            throw new Transient(s"HTTP $code", null,
              graft.sharing.DeltaSharingClient.retryAfterMs(resp))
          case code if code >= 400 => throw Rejected(code)
          case code => throw new RangeReadException(
            s"HTTP $code answering range $start-$end (expected 206 or 200)")
        }
        val out = consume(body)
        if (resp.statusCode() == 206 && body.read() != -1)
          throw new RangeReadException(
            s"range $start-$end: body longer than its Content-Range")
        out
      } finally body.close()
    } catch {
      case _: InterruptedException =>
        Thread.currentThread().interrupt()
        throw new java.io.InterruptedIOException(
          s"read of range $start-$end interrupted")
      case e: javax.net.ssl.SSLException =>
        throw new RangeReadException(s"TLS failure reading range $start-$end", e)
      case e @ (_: RangeReadException | _: Transient | _: Rejected) => throw e
      // connection refused or reset, premature end of the body
      case e: java.io.IOException => throw new Transient(e.toString, e)
    }

  /** A 206 must be for exactly the requested bytes of an object of this
    * size. As RFC 9110 allows, the unit's case may vary and the total may
    * be `*` when the server does not know it. */
  private def checkContentRange(resp: HttpResponse[_], start: Long,
      end: Long): Unit = {
    val cr = resp.headers().firstValue("Content-Range").orElse("")
    val matches = cr.trim match {
      case SignedHttpInputStream.ContentRange(unit, s, e, total) =>
        unit.equalsIgnoreCase("bytes") && s.toLongOption.contains(start) &&
          e.toLongOption.contains(end) &&
          (total == "*" || total.toLongOption.contains(size))
      case _ => false
    }
    if (!matches) throw new RangeReadException(
      s"HTTP 206 with Content-Range '$cr', expected 'bytes $start-$end/$size'")
  }

  /** Exactly `n` bytes of `in` into `b`; a body that ends first is a
    * truncated response, retried like a dropped connection. */
  private def readExactly(in: InputStream, b: Array[Byte], off: Int,
      n: Int): Unit = {
    val got = in.readNBytes(b, off, n)
    if (got < n) throw new Transient(s"body ended after $got of $n bytes", null)
  }

  private def delivered(n: Int): Int = {
    if (n > 0) stats.foreach(_.incrementBytesRead(n))
    n
  }

  override def seek(newPos: Long): Unit = {
    if (newPos < 0 || newPos > size)
      throw new java.io.EOFException(s"seek($newPos) out of range 0..$size")
    pos = newPos
  }
  override def getPos: Long = pos
  override def seekToNewSource(targetPos: Long): Boolean = false

  override def read(): Int = {
    if (pos >= size) return -1
    if (pos < bufStart || pos >= bufStart + buf.length) fill(pos)
    val b = buf((pos - bufStart).toInt) & 0xff
    pos += 1
    delivered(1)
    b
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (pos >= size) return -1
    if (pos < bufStart || pos >= bufStart + buf.length) fill(pos)
    val avail = (bufStart + buf.length - pos).toInt
    val n = math.min(len, avail)
    System.arraycopy(buf, (pos - bufStart).toInt, b, off, n)
    pos += n
    delivered(n)
  }

  /** Positioned read: exact range, cursor untouched. */
  override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int = {
    validatePositionedReadArgs(position, b, off, len)
    if (position >= size) return -1
    val n = math.min(len.toLong, size - position).toInt
    if (n == 0) return 0
    fetch(position, position + n - 1)(readExactly(_, b, off, n))
    delivered(n)
  }

  /** Sorts and merges the ranges with Hadoop's own helpers, fetches each
    * merged range with one GET and slices it into each range's buffer,
    * skipping the gaps. Every future is complete when this returns; after
    * a failure the remaining ranges fail with the same error. */
  override def readVectored(ranges: java.util.List[_ <: FileRange],
      allocate: java.util.function.IntFunction[ByteBuffer]): Unit = {
    val sorted = VectoredReadUtils.validateAndSortRanges(ranges,
      java.util.Optional.of(java.lang.Long.valueOf(size)))
    sorted.forEach(_.setData(new CompletableFuture[ByteBuffer]))
    var failure: Option[Throwable] = None
    VectoredReadUtils.mergeSortedRanges(sorted, 1, minSeekForVectorReads(),
        maxReadSizeForVectorReads()).forEach { merged =>
      val parts = merged.getUnderlying.asScala.toSeq
      if (failure.isEmpty) try {
        val bufs = parts.map(r => allocate.apply(r.getLength))
        fetch(merged.getOffset, merged.getOffset + merged.getLength - 1) { in =>
          var at = merged.getOffset
          parts.zip(bufs).foreach { case (r, bb) =>
            in.skipNBytes(r.getOffset - at)
            if (bb.hasArray)
              readExactly(in, bb.array, bb.arrayOffset + bb.position(), r.getLength)
            else {
              val tmp = new Array[Byte](r.getLength)
              readExactly(in, tmp, 0, r.getLength)
              bb.duplicate().put(tmp)
            }
            at = r.getOffset + r.getLength
          }
        }
        parts.zip(bufs).foreach { case (r, bb) =>
          bb.limit(bb.position() + r.getLength)
          delivered(r.getLength)
          r.getData.complete(bb)
        }
      } catch { case e: java.io.IOException => failure = Some(e) }
      failure.foreach(e => parts.foreach(_.getData.completeExceptionally(e)))
    }
  }

  private def fill(at: Long): Unit = {
    val n = math.min(chunkSize.toLong, size - at).toInt
    val b = new Array[Byte](n)
    fetch(at, at + n - 1)(readExactly(_, b, 0, n))
    buf = b
    bufStart = at
  }

  override def close(): Unit = buf = Array.emptyByteArray
}

object SignedHttpInputStream {
  /** Retries of a range GET after a transient failure, as the REST
    * client's default. */
  private val maxRetries = 3

  /** A 4xx: the URL is refused, most often because it expired. */
  private final case class Rejected(status: Int)
      extends java.io.IOException(s"HTTP $status")

  /** A failure that a later attempt may not repeat; `retryAfterMs` is
    * the server's requested delay, if it sent one. */
  private final class Transient(message: String, cause: Throwable,
      val retryAfterMs: Long = 0L)
      extends java.io.IOException(message, cause)

  /** `Content-Range: <unit> <first>-<last>/<total or *>`. */
  private val ContentRange = """([A-Za-z]+) +(\d+)-(\d+)/(\d+|\*)""".r

  /** (table key # file id) → fresh signed URL, shared across streams in
    * this JVM. Keyed per table snapshot so same-named files in different
    * shares/versions can never serve each other's URLs. */
  private[fs] val freshUrls =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** One monitor per table snapshot: concurrent expired streams of the
    * same table serialize on it, so the table is re-listed ONCE and
    * everyone else reads the batch-populated cache — without it a
    * thousand tasks racing a TTL would issue a thousand listings. */
  private val refreshLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Number of refresh LISTING round-trips issued by this JVM (tests
    * assert the one-listing-per-expiry-wave property against it). */
  private[fs] val refreshListings =
    new java.util.concurrent.atomic.AtomicInteger(0)

  private def tableKey(r: SignedHttpFileSystem.RefreshSpec): String =
    Seq(r.profilePath, r.share, r.schema, r.table,
      r.version.map(_.toString).getOrElse("latest"))
      .map(java.net.URLEncoder.encode(_, "UTF-8")).mkString("|")

  private[fs] def cacheKey(r: SignedHttpFileSystem.RefreshSpec): String =
    s"${tableKey(r)}#${r.fileId}"

  /** Test hook: forget all cached fresh URLs (JVM-wide state). */
  private[fs] def clearCache(): Unit = { freshUrls.clear(); refreshLocks.clear() }

  /** A fresh signed URL for `spec`, given that `failedUrl` just 4xx'd.
    *
    * A table's URLs expire TOGETHER, so one `getTableData` listing
    * batch-populates the cache for EVERY file of the table — N expired
    * files cost one listing, not N (the round-5 review's thundering-herd
    * finding). An entry equal to `failedUrl` is stale from an earlier
    * refresh and is invalidated so a second expiry re-lists instead of
    * replaying it. */
  private[fs] def refreshUrl(spec: SignedHttpFileSystem.RefreshSpec,
      failedUrl: String): String = {
    val lock = refreshLocks.getOrElseUpdate(tableKey(spec), new Object)
    lock.synchronized {
      val key = cacheKey(spec)
      freshUrls.get(key) match {
        case Some(cached) if cached != failedUrl =>
          cached // another stream already re-listed this table
        case stale =>
          stale.foreach(_ => freshUrls.remove(key))
          refreshListings.incrementAndGet()
          val client = new graft.sharing.DeltaSharingClient(
            graft.sharing.Profile.fromPath(spec.profilePath))
          val (_, _, files) = client.getTableData(
            graft.sharing.TableRef(spec.share, spec.schema, spec.table),
            version = spec.version)
          // REPLACE this snapshot's key range rather than accreting:
          // files compacted/removed since the last refresh would
          // otherwise leave dead URL entries behind forever (the cache
          // lives for the executor JVM's lifetime)
          val prefix = s"${tableKey(spec)}#"
          freshUrls.keys.filter(_.startsWith(prefix)).foreach(freshUrls.remove)
          files.foreach(f => freshUrls.put(s"$prefix${f.id}", f.url))
          files.find(_.id == spec.fileId).map(_.url).getOrElse(
            throw new java.io.IOException(
              s"file ${spec.fileId} no longer listed for ${spec.table} on refresh"))
      }
    }
  }
}
