package graft.sources

import java.net.URI
import java.nio.file.{Path => NioPath}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Object-store data residency for graft tables.
  *
  * URL grammar is the reference's (merge_tree_service.go:122-146):
  * `s3://key:secret@endpoint/bucket/path?region=r&secure=false` — user
  * info carries credentials, the first path segment is the bucket,
  * `secure` defaults to true. Spark side that becomes s3a configuration
  * (endpoint, keys, path-style access — matching the reference's
  * URL_STYLE 'path', merge_service_s3.go:94-118).
  *
  * Commit protocol (no rename — S3 has none): bytes are uploaded to their
  * FINAL key (the reference's PutObject, save_service_s3.go:55-88), and
  * visibility is gated by the partition's metadata.json manifest — a file
  * is part of the table iff the index lists it, so a half-uploaded object
  * is simply invisible, and `copyPublish` deletes it. Replaced files go
  * to the drop queue and are deleted after the grace period
  * (merge_service_s3.go:125-143 deletes post-upload; we add the FS
  * path's 30 s grace, which S3 needs even more). `file://` URLs run the
  * exact same copy-publish path — that is what the spec exercises
  * hermetically. [[graft.ingest.Publish.staged]] runs this protocol.
  */
object ObjectStore {

  final case class S3Target(endpoint: String, key: String, secret: String,
                            bucket: String, path: String,
                            region: String, secure: Boolean) {
    def s3aRoot: String = s"s3a://$bucket/$path"

    /** Hadoop s3a configs for this target. Per-BUCKET-NAME — the finest
      * granularity s3a offers — so two tables can point at two stores as
      * long as their bucket names differ. Two same-named buckets on
      * DIFFERENT endpoints cannot coexist in one Hadoop conf: silently
      * overwriting would redirect the earlier table's I/O to the later
      * table's endpoint with the later table's keys (wrong data or auth
      * failures on whichever was touched first), so that case fails
      * loudly here instead. */
    def applyTo(spark: SparkSession): Unit = {
      val c = spark.sparkContext.hadoopConfiguration
      val prev = c.get(s"fs.s3a.bucket.$bucket.endpoint")
      val prevKey = c.get(s"fs.s3a.bucket.$bucket.access.key")
      // the guard compares CREDENTIALS too: same bucket+endpoint with
      // different per-tenant keys would silently swap the earlier
      // table's auth (cross-tenant access or auth failures)
      if ((prev != null && prev != endpoint) ||
          (prevKey != null && prevKey != key))
        throw new IllegalArgumentException(
          s"bucket '$bucket' already configured for endpoint '$prev' " +
            s"with different endpoint/credentials; s3a per-bucket config " +
            "is keyed by bucket name (use distinct bucket names per store)")
      def set(k: String, v: String): Unit = c.set(s"fs.s3a.bucket.$bucket.$k", v)
      set("endpoint", endpoint)
      set("access.key", key)
      set("secret.key", secret)
      set("path.style.access", "true")
      set("connection.ssl.enabled", secure.toString)
      if (region.nonEmpty) set("endpoint.region", region)
    }
  }

  /** Apply CREATE SECRET-derived `fs.s3a.*` confs under the same
    * conflict discipline as [[S3Target.applyTo]] (ADVICE r9): the
    * hadoopConfiguration is process-global, so one POST must not
    * silently swap an already-configured bucket's — or the global
    * namespace's — endpoint/credentials out from under every other
    * table and later caller. Re-applying the SAME values is idempotent
    * (the reference's merge path issues its unscoped secret per merge,
    * merge_service_s3.go:94-118, and that must keep working); a
    * DIFFERENT value for an identity-bearing key fails loudly with the
    * scoping fix in the message. */
  private val GuardedSecretKeys =
    Seq("endpoint", "access.key", "secret.key", "session.token")

  // check-then-set below must be atomic: the HTTP handlers run on a
  // thread pool, and two concurrent secrets for one bucket passing the
  // guard together would last-write-wins — the exact swap the guard
  // exists to prevent (review r10)
  private val secretLock = new Object

  def applySecretConfs(spark: SparkSession, confs: Map[String, String]): Unit =
    secretLock.synchronized {
      val c = spark.sparkContext.hadoopConfiguration
      confs.foreach { case (k, v) =>
        val guarded = GuardedSecretKeys.exists(g =>
          k == s"fs.s3a.$g" ||
            (k.startsWith("fs.s3a.bucket.") && k.endsWith(s".$g")))
        val prev = if (guarded) c.get(k) else null
        if (prev != null && prev != v)
          throw new IllegalArgumentException(
            s"CREATE SECRET conflicts with the existing configuration of " +
              s"'$k': a secret must not silently swap configured " +
              "credentials/endpoints; scope secrets to distinct buckets " +
              "(SCOPE 's3://bucket') or restart with the new credentials")
      }
      confs.foreach { case (k, v) => c.set(k, v) }
    }

  /** Parse the reference's S3 URL grammar. Credentials with reserved
    * characters (':' '/' '@' '%' — AWS secrets routinely contain '/')
    * must be percent-encoded in the URL, like the reference's url.Parse;
    * we split on the raw userinfo then percent-decode each part, so an
    * encoded ':' inside the key never mis-splits. */
  def parseS3(url: String): S3Target = {
    val u = URI.create(url)
    require(u.getScheme == "s3", s"invalid S3 URL (scheme must be s3): $url")
    val userInfo = Option(u.getRawUserInfo).getOrElse("")
    val (key, secret) = userInfo.split(":", 2) match {
      case Array(k, s) => (pctDecode(k), pctDecode(s))
      case Array(k) => (pctDecode(k), "")
    }
    val segs = Option(u.getPath).getOrElse("").stripPrefix("/").split("/", 2)
    require(segs.nonEmpty && segs(0).nonEmpty, s"S3 URL needs a bucket: $url")
    val params = Option(u.getQuery).getOrElse("").split('&').filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
    }.toMap
    // URI's server-based parse returns null host for RFC-invalid names
    // (underscored docker service names) — fail loudly, not "null:9000"
    require(u.getHost != null,
      s"invalid S3 URL host (RFC hostname required, got '$url')")
    S3Target(
      endpoint = u.getHost + (if (u.getPort > 0) s":${u.getPort}" else ""),
      key = key, secret = secret,
      bucket = segs(0),
      path = if (segs.length > 1) segs(1) else "",
      region = params.getOrElse("region", ""),
      secure = params.getOrElse("secure", "true") != "false")
  }

  /** RFC-3986 percent-decode (%XX only — '+' stays literal, unlike
    * URLDecoder's form semantics; AWS secrets often contain '+'). */
  private def pctDecode(s: String): String =
    if (!s.contains('%')) s
    else java.net.URLDecoder.decode(
      s.replace("+", "%2B"), java.nio.charset.StandardCharsets.UTF_8)

  /** Resolve a table data URL to a Hadoop-readable root URI, applying any
    * credentials/configs it carries. Accepts the reference s3:// grammar
    * or any Hadoop scheme (file://, hdfs://) verbatim. */
  def resolveDataRoot(spark: SparkSession, url: String): String =
    if (url.startsWith("s3://")) {
      val t = parseS3(url)
      t.applyTo(spark)
      t.s3aRoot.stripSuffix("/")
    } else url.stripSuffix("/")

  private def fs(spark: SparkSession, uri: String): FileSystem =
    new HPath(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** FileSystem for staging/publish work at `path` — raw (non-checksum)
    * on locals, else rename drags `.crc` sidecars into published
    * partition dirs. HDFS/s3a are unaffected by the unwrap. */
  def publishFs(path: HPath, conf: org.apache.hadoop.conf.Configuration): FileSystem =
    path.getFileSystem(conf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  /** Atomic-move publish for FS-resident tables (object-store tables use
    * copyPublish + manifest commit instead — no rename on S3). */
  def publishRename(fs: FileSystem, src: HPath, dest: HPath): Unit =
    if (!fs.rename(src, dest))
      throw new java.io.IOException(s"publish rename failed: $src -> $dest")

  /** Copy a staged file to its FINAL object key (PutObject semantics; no
    * rename). Overwrite is safe: keys embed a fresh UUID. Source rides
    * the Hadoop FS API too, so staging may live on any shared FS (local,
    * HDFS) while the destination is an object store. A failed copy
    * deletes the key again before the failure propagates: a mid-copy
    * fault can leave a PARTIAL object there, in no manifest and on no
    * drop queue, and every retry mints a fresh key, so nothing else
    * would ever delete it. The delete is best-effort (a no-op if nothing
    * was written). */
  def copyPublish(spark: SparkSession, src: HPath, destUri: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dest = new HPath(destUri)
    val destFs = fs(spark, destUri)
    try {
      destFs.mkdirs(dest.getParent)
      org.apache.hadoop.fs.FileUtil.copy(
        src.getFileSystem(conf), src, destFs, dest, false, true, conf): Unit
    } catch {
      case scala.util.control.NonFatal(e) =>
        try destFs.delete(dest, false): Unit
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
  }

  def delete(spark: SparkSession, uri: String): Boolean =
    fs(spark, uri).delete(new HPath(uri), false)

  def exists(spark: SparkSession, uri: String): Boolean =
    fs(spark, uri).exists(new HPath(uri))

  /** Data root for a table spec, when it is object-store resident. */
  def tableRemoteRoot(spark: SparkSession, spec: graft.catalog.TableSpec): Option[String] =
    spec.dataUrl.map(u => resolveDataRoot(spark, u) + s"/${spec.database}/${spec.name}")

  /** Data URI of `name` in the partition `localPartDir`, which is the
    * local manifest dir mirroring the (possibly remote) data layout. */
  def dataUri(spark: SparkSession, spec: graft.catalog.TableSpec,
              localTableDir: NioPath, localPartDir: NioPath, name: String): String =
    dataUriFrom(tableRemoteRoot(spark, spec), localTableDir, localPartDir, name)

  /** [[dataUri]] with the remote root PRE-resolved — the per-file form
    * for listing hot paths (review r10: resolving per file re-parsed
    * the S3 URL and re-applied ~6 process-global hadoopConfiguration
    * keys per manifest entry per query plan of a remote table). */
  def dataUriFrom(remoteRoot: Option[String], localTableDir: NioPath,
                  localPartDir: NioPath, name: String): String =
    remoteRoot match {
      case Some(r) =>
        val rel = localTableDir.relativize(localPartDir).toString.replace('\\', '/')
        r + (if (rel.isEmpty) "" else "/" + rel) + "/" + name
      case None => localPartDir.resolve(name).toString
    }
}
