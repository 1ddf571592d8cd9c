package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.io.{ByteArrayOutputStream, FileNotFoundException, IOException, OutputStream}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

/** Hadoop FileSystem client over a flat HTTP object API with S3-shaped
  * semantics (`graftos://host:port/...`) — the piece that lets the
  * [[TableLog]] commit protocol run against OBJECT-STORE semantics for
  * real (atomic whole-object PUT, conditional put via `If-None-Match: *`,
  * prefix listing, non-atomic copy+delete rename) instead of the POSIX
  * emulation in [[ManifestStore.ConditionalPutStub]].
  *
  * Wire API (what S3/GCS/Azure all provide). Auth: per-request HMAC
  * signing (`fs.graftos.access.key`/`.secret.key` →
  * `GRAFT-HMAC-SHA256 id:sig` over method/target/date, the SigV4 shape
  * reduced to this API) or a static `fs.graftos.auth.header` for
  * bearer-token endpoints; unauthenticated when neither is set:
  *   - `PUT /key` (+ `If-None-Match: *` for create-only; 412 = lost race)
  *   - `GET /key` → 200 bytes | 404
  *   - `HEAD /key` → 200 + Content-Length | 404
  *   - `GET /?prefix=p` → text listing `key<TAB>size` per line
  *   - `DELETE /key` → 204 | 404
  *
  * Semantics notes (all matching real object stores):
  *   - objects appear atomically WHOLE at close() — there is no torn
  *     manifest state here, so TableLog's `end`-sentinel check simply
  *     never fires;
  *   - `create(overwrite = false)` maps to the conditional put, so even
  *     the default [[ManifestStore.ExclusiveCreate]] is atomic on this
  *     FS (unlike S3A's check-then-put `create`);
  *   - directories are virtual (key prefixes): `mkdirs` is a no-op and
  *     `listStatus` of a prefix with no keys returns empty instead of
  *     throwing — the behavior [[TableLog.publish]] needs on a store
  *     with no empty-dir markers;
  *   - `rename` is GET+PUT+DELETE (non-atomic, like S3 CopyObject) —
  *     never a commit point (that is the manifest put's job); the store's
  *     own writes ([[InPlaceWrite]]) create files at their final keys and
  *     rename nothing.
  */
final class ObjectStoreFileSystem extends FileSystem {
  private var endpoint: String = _       // http://host:port
  private var fsUri: URI = _
  private var workDir: Path = new Path("/")
  private var authHeader: Option[String] = None
  private var signer: Option[(String, javax.crypto.spec.SecretKeySpec)] = None
  private var sigv4: Option[(String, String, String)] = None // access, secret, region

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(s"graftos://${name.getAuthority}")
    endpoint = s"http://${name.getAuthority}"
    authHeader = Option(conf.get("fs.graftos.auth.header")).filter(_.nonEmpty)
    val access = Option(conf.get("fs.graftos.access.key")).filter(_.nonEmpty)
    val secret = Option(conf.get("fs.graftos.secret.key")).filter(_.nonEmpty)
    if (conf.get("fs.graftos.auth.mode", "") == "sigv4") {
      // REAL AWS Signature V4 ([[SigV4]], verified against the published
      // AWS vectors) — the mode for actual S3-compatible endpoints:
      // per-request Authorization over the canonical request including
      // the payload hash (x-amz-content-sha256), scope from
      // fs.graftos.region (service "s3").
      //
      // Fail FAST on a missing/empty key: sigv4 was requested, so
      // silently falling back to the static auth.header (or to fully
      // unsigned requests) would send a typo'd config's traffic
      // unauthenticated without any error at initialize time.
      sigv4 = for (a <- access; s <- secret)
        yield (a, s, conf.get("fs.graftos.region", "us-east-1"))
      if (sigv4.isEmpty) throw new IllegalArgumentException(
        "fs.graftos.auth.mode=sigv4 requires both fs.graftos.access.key " +
          "and fs.graftos.secret.key to be set and non-empty")
    } else {
      // GRAFT-HMAC request signing (the SigV4 shape reduced to this wire
      // API): `Authorization: GRAFT-HMAC-SHA256 <id>:<hex sig>` over
      // (method, request-target, x-graft-date). Takes precedence over
      // the static auth.header seam (bearer-token endpoints).
      signer = for (a <- access; s <- secret)
        yield (a, new javax.crypto.spec.SecretKeySpec(
          s.getBytes(StandardCharsets.UTF_8), "HmacSHA256"))
    }
  }

  override def getScheme: String = "graftos"
  override def getUri: URI = fsUri
  override def getWorkingDirectory: Path = workDir
  override def setWorkingDirectory(dir: Path): Unit = { workDir = dir }

  private def key(f: Path): String = {
    val p = makeQualified(f).toUri.getPath
    p.stripPrefix("/")
  }

  /** Host value as it appears ON THE WIRE: HttpURLConnection drops a
    * default :80 from the Host header it transmits, so an endpoint
    * configured with an explicit ':80' must sign the bare host —
    * server-side SigV4 re-derives the canonical request from the
    * RECEIVED Host header (the test server and real S3 both do), and
    * signing 'host:80' against a transmitted 'host' rejects every
    * request. Non-default ports are transmitted verbatim and sign as-is. */
  private def wireHost: String = {
    val a = fsUri.getAuthority
    if (a.endsWith(":80")) a.dropRight(3) else a
  }

  /** Wire path for an object key — SigV4's uriEncode (slash-preserving)
    * so the path on the wire IS the canonical URI and there is no
    * canonicalization step for client and server to disagree on. */
  private def pathOf(k: String): String = "/" + SigV4.uriEncode(k, encodeSlash = false)

  /** `target` is the request-target as sent on the wire (`/key` or
    * `/?prefix=...`) — the exact string the server verifies. `payload`
    * participates in SigV4 signing (x-amz-content-sha256); the
    * GRAFT-HMAC mode signs the request line only. */
  private def conn(method: String, target: String,
      payload: Array[Byte] = Array.emptyByteArray): HttpURLConnection = {
    val c = URI.create(endpoint + target).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(15000)
    c.setReadTimeout(30000)
    (sigv4, signer) match {
      case (Some((access, secret, region)), _) =>
        val amzDate = SigV4.amzDateNow()
        val (path, query) = target.indexOf('?') match {
          case -1 => (target, "")
          case i  => (target.substring(0, i), target.substring(i + 1))
        }
        val payloadHash = SigV4.sha256Hex(payload)
        val headers = Seq(
          "host" -> wireHost, // what HttpURLConnection actually transmits
          "x-amz-content-sha256" -> payloadHash,
          "x-amz-date" -> amzDate)
        c.setRequestProperty("x-amz-date", amzDate)
        c.setRequestProperty("x-amz-content-sha256", payloadHash)
        c.setRequestProperty("Authorization", SigV4.authorization(
          access, secret, region, "s3", method, path, query, headers,
          payloadHash, amzDate))
      case (None, Some((access, keySpec))) =>
        val ts = System.currentTimeMillis().toString
        val mac = javax.crypto.Mac.getInstance("HmacSHA256")
        mac.init(keySpec)
        val sig = mac.doFinal(s"$method\n$target\n$ts".getBytes(StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        c.setRequestProperty("x-graft-date", ts)
        c.setRequestProperty("Authorization", s"GRAFT-HMAC-SHA256 $access:$sig")
      case (None, None) =>
        authHeader.foreach(c.setRequestProperty("Authorization", _))
    }
    c
  }

  /** PUT bytes at `k`; `ifNoneMatch` adds the conditional header. Returns
    * false iff the precondition failed (412 — object already exists). */
  private[store] def put(k: String, bytes: Array[Byte], ifNoneMatch: Boolean): Boolean = {
    val c = conn("PUT", pathOf(k), bytes)
    try {
      if (ifNoneMatch) c.setRequestProperty("If-None-Match", "*")
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(bytes.length)
      val out = c.getOutputStream
      try out.write(bytes) finally out.close()
      c.getResponseCode match {
        case 200 | 201 | 204 => true
        case 412 => false
        case code => throw new IOException(s"PUT $k: HTTP $code")
      }
    } finally c.disconnect()
  }

  private def getBytes(k: String): Option[Array[Byte]] = {
    val c = conn("GET", pathOf(k))
    try c.getResponseCode match {
      case 200 => Some(c.getInputStream.readAllBytes())
      case 404 => None
      case code => throw new IOException(s"GET $k: HTTP $code")
    } finally c.disconnect()
  }

  private def headLen(k: String): Option[Long] = {
    val c = conn("HEAD", pathOf(k))
    try c.getResponseCode match {
      case 200 => Some(c.getHeaderFieldLong("Content-Length", 0L))
      case 404 => None
      case code => throw new IOException(s"HEAD $k: HTTP $code")
    } finally c.disconnect()
  }

  /** All (key, size) under a prefix — the store's flat ListObjects. */
  private def listPrefix(prefix: String): Seq[(String, Long)] = {
    val c = conn("GET", "/?" + SigV4.canonicalQuery(Seq("prefix" -> prefix)))
    try c.getResponseCode match {
      case 200 =>
        new String(c.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
          .linesIterator.filter(_.nonEmpty).map { l =>
            val i = l.lastIndexOf('\t'); (l.substring(0, i), l.substring(i + 1).toLong)
          }.toSeq
      case code => throw new IOException(s"LIST $prefix: HTTP $code")
    } finally c.disconnect()
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val bytes = getBytes(key(f)).getOrElse(throw new FileNotFoundException(f.toString))
    new FSDataInputStream(new ObjectStoreFileSystem.BytesInputStream(bytes))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val k = key(f)
    val buf = new ByteArrayOutputStream()
    val sink: OutputStream = new OutputStream {
      override def write(b: Int): Unit = buf.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = buf.write(b, off, len)
      override def close(): Unit =
        // The object appears atomically whole HERE — close() is the
        // commit point, and create-only rides the store's conditional put.
        if (!put(k, buf.toByteArray, ifNoneMatch = !overwrite))
          throw new IOException(s"create: object exists at $k")
    }
    new FSDataOutputStream(sink, statistics)
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("graftos: append (objects are immutable)")

  override def rename(src: Path, dst: Path): Boolean = {
    // CopyObject + Delete, like S3 — not atomic, never a commit point.
    getBytes(key(src)) match {
      case None => false
      case Some(bytes) =>
        if (headLen(key(dst)).isDefined) false
        else { put(key(dst), bytes, ifNoneMatch = false); del(key(src)); true }
    }
  }

  private def del(k: String): Boolean = {
    val c = conn("DELETE", pathOf(k))
    try c.getResponseCode match {
      case 200 | 204 => true
      case 404 => false
      case code => throw new IOException(s"DELETE $k: HTTP $code")
    } finally c.disconnect()
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val k = key(f)
    if (headLen(k).isDefined) del(k)
    else {
      val children = listPrefix(k + "/")
      if (children.isEmpty) false
      else if (!recursive) throw new IOException(s"delete: $f is a non-empty prefix")
      else { children.foreach { case (ck, _) => del(ck) }; true }
    }
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val k = key(f)
    if (k.nonEmpty && headLen(k).isDefined)
      return Array(fileStatus(k, headLen(k).get))
    val prefix = if (k.isEmpty) "" else k + "/"
    // Immediate children: files directly under the prefix, plus one
    // pseudo-dir per distinct next path segment. Empty prefix -> empty
    // listing (virtual dirs: TableLog.publish lists before first commit).
    val all = listPrefix(prefix)
    val files = all.collect {
      case (ck, len) if !ck.substring(prefix.length).contains('/') => fileStatus(ck, len)
    }
    val dirs = all.collect {
      case (ck, _) if ck.substring(prefix.length).contains('/') =>
        ck.substring(prefix.length).takeWhile(_ != '/')
    }.distinct.map(d => dirStatus(prefix + d))
    (files ++ dirs).toArray
  }

  private def fileStatus(k: String, len: Long): FileStatus =
    new FileStatus(len, false, 1, 64L * 1024 * 1024, 0L, new Path(s"$fsUri/$k"))
  private def dirStatus(k: String): FileStatus =
    new FileStatus(0, true, 1, 0, 0L, new Path(s"$fsUri/$k"))

  override def getFileStatus(f: Path): FileStatus = {
    val k = key(f)
    if (k.isEmpty) return dirStatus("")
    headLen(k) match {
      case Some(len) => fileStatus(k, len)
      case None =>
        if (listPrefix(k + "/").nonEmpty) dirStatus(k)
        else throw new FileNotFoundException(f.toString)
    }
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = true // virtual dirs

  /** The ONE production call [[ManifestStore.HttpConditionalPut]] needs:
    * `PUT` + `If-None-Match: *`, atomicity served by the store. */
  def conditionalPut(f: Path, bytes: Array[Byte]): Boolean =
    put(key(f), bytes, ifNoneMatch = true)

  /** Presigned GET URL for `f` (sigv4 mode only): hand read access to a
    * client that holds no credentials — the signature travels in the
    * query string and expires after `expiresSec`. */
  def presignGet(f: Path, expiresSec: Long): String = {
    val (access, secret, region) = sigv4.getOrElse(
      throw new IllegalStateException("presignGet requires fs.graftos.auth.mode=sigv4"))
    // wireHost, not the raw authority: a ':80' in the URL would be
    // dropped from the Host header the fetching client transmits, and
    // the server verifies against the RECEIVED Host (see wireHost)
    SigV4.presignUrl("http", wireHost, pathOf(key(f)),
      access, secret, region, "s3", SigV4.amzDateNow(), expiresSec)
  }
}

object ObjectStoreFileSystem {
  /** Register the `graftos` scheme on a Hadoop conf (tests / SparkSession:
    * `spark.hadoop.fs.graftos.impl`). */
  def register(conf: Configuration): Unit =
    conf.set("fs.graftos.impl", classOf[ObjectStoreFileSystem].getName)

  /** Seekable in-memory FSInputStream (objects are fetched whole; the
    * manifest and stats objects this FS serves are KBs). */
  private final class BytesInputStream(bytes: Array[Byte])
      extends FSInputStream {
    private var pos = 0
    override def seek(p: Long): Unit = {
      if (p < 0 || p > bytes.length) throw new IOException(s"seek $p out of range")
      pos = p.toInt
    }
    override def getPos: Long = pos.toLong
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int =
      if (pos >= bytes.length) -1 else { val b = bytes(pos) & 0xff; pos += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (pos >= bytes.length) return -1
      val n = math.min(len, bytes.length - pos)
      System.arraycopy(bytes, pos, b, off, n)
      pos += n
      n
    }
  }
}
