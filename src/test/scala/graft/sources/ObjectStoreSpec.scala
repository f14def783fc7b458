package graft.sources

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.catalog.{TableCatalog, TableSpec}
import graft.compact.Compactor
import graft.index.MetadataIndex
import graft.ingest.IngestWriter
import graft.lineproto.LineProtocolParser
import graft.pruning.GraftFileIndex

/** Object-store data residency: the reference S3 URL grammar
  * (merge_tree_service.go:122-146), s3a config wiring, and the
  * non-rename copy-publish commit cycle (write→index→read→compact→gc)
  * driven hermetically over file:// through the SAME code path. */
class ObjectStoreSpec extends SparkSpec {

  test("parseS3 follows the reference URL grammar") {
    val t = ObjectStore.parseS3(
      "s3://AKID:sEcr3t@minio.local:9000/mybucket/data/prefix?region=us-east-1&secure=false")
    assert(t.key == "AKID" && t.secret == "sEcr3t")
    assert(t.endpoint == "minio.local:9000")
    assert(t.bucket == "mybucket" && t.path == "data/prefix")
    assert(t.region == "us-east-1" && !t.secure)
    assert(t.s3aRoot == "s3a://mybucket/data/prefix")
    // secure defaults true (reference: !(secure == "false"))
    assert(ObjectStore.parseS3("s3://k:s@h/b/p").secure)
    intercept[IllegalArgumentException](ObjectStore.parseS3("http://not-s3/b"))
  }

  test("parseS3 percent-decodes credentials with reserved characters") {
    // AWS-style secret with '/', '+' and an encoded ':' inside the key
    val t = ObjectStore.parseS3(
      "s3://AK%3AID:se%2Fcr+t%40x@minio:9000/bkt/p")
    assert(t.key == "AK:ID")
    assert(t.secret == "se/cr+t@x") // '+' literal, %2F and %40 decoded
    assert(t.bucket == "bkt" && t.path == "p")
  }

  test("RFC-invalid hosts fail loudly; same-bucket credential conflicts are rejected") {
    // java.net.URI returns a NULL host for underscored names (docker
    // service names routinely have them) — the endpoint must not read
    // "null:9000" with the failure surfacing as an unresolvable host
    val e = intercept[IllegalArgumentException](
      ObjectStore.parseS3("s3://k:s@minio_local:9000/bkt/p"))
    assert(e.getMessage.contains("host"), e.getMessage)
    // same bucket + endpoint with DIFFERENT credentials must not
    // silently swap the earlier table's auth (per-tenant keys)
    val c = spark.sparkContext.hadoopConfiguration
    val bucket = s"credbkt${System.nanoTime()}"
    ObjectStore.parseS3(s"s3://keyA:secA@minio:9000/$bucket/a").applyTo(spark)
    val dup = intercept[IllegalArgumentException](
      ObjectStore.parseS3(s"s3://keyB:secB@minio:9000/$bucket/b").applyTo(spark))
    assert(dup.getMessage.contains("credentials"), dup.getMessage)
    assert(c.get(s"fs.s3a.bucket.$bucket.access.key") == "keyA") // untouched
    // identical credentials re-apply fine (idempotent)
    ObjectStore.parseS3(s"s3://keyA:secA@minio:9000/$bucket/c").applyTo(spark)
  }

  test("resolveDataRoot applies per-bucket s3a configs") {
    val root = ObjectStore.resolveDataRoot(spark,
      "s3://key1:sec1@minio:9000/bkt/warehouse?secure=false")
    assert(root == "s3a://bkt/warehouse")
    val c = spark.sparkContext.hadoopConfiguration
    assert(c.get("fs.s3a.bucket.bkt.endpoint") == "minio:9000")
    assert(c.get("fs.s3a.bucket.bkt.access.key") == "key1")
    assert(c.get("fs.s3a.bucket.bkt.secret.key") == "sec1")
    assert(c.get("fs.s3a.bucket.bkt.path.style.access") == "true")
    assert(c.get("fs.s3a.bucket.bkt.connection.ssl.enabled") == "false")
    // same bucket, same endpoint: idempotent re-apply is fine
    ObjectStore.resolveDataRoot(spark,
      "s3://key1:sec1@minio:9000/bkt/other?secure=false"): Unit
    // same bucket NAME on a different endpoint would silently redirect
    // the first table's I/O — must fail loudly instead
    val e = intercept[IllegalArgumentException] {
      ObjectStore.resolveDataRoot(spark, "s3://k2:s2@minio2:9000/bkt/x")
    }
    assert(e.getMessage.contains("already configured"), e.getMessage)
  }

  test("copy-publish cycle over file://: write -> manifest -> read -> compact -> gc") {
    val metaRoot = Files.createTempDirectory("graft-os-meta-") // index + catalog
    val dataRoot = Files.createTempDirectory("graft-os-data-") // "object store"
    val dataUrl = "file://" + dataRoot.toString
    val cat = new TableCatalog(metaRoot.toString)
    cat.upsert(TableSpec("default", "rt", dataUrl = Some(dataUrl)))
    var tick = 0L
    val t0 = 1700000000000000000L
    val w = new IngestWriter(spark, metaRoot.toString, cat,
      () => { tick += 1; t0 + tick * 1000000L })

    val uris = (1 to 4).flatMap { i =>
      LineProtocolParser.parse(s"rt v=${i}i", nowNs = () => t0).map(w.store).toSeq.flatten
    }
    // data landed under the remote root, nothing but the manifest locally
    assert(uris.forall(_.startsWith("file://" + dataRoot)))
    val localTable = metaRoot.resolve("default/rt")
    val partDirs = MetadataIndex.partitionDirs(localTable)
    assert(partDirs.nonEmpty)
    assert(Files.walk(localTable).iterator().asScala // scalastyle:ignore
      .forall(p => !p.toString.endsWith(".parquet")))
    assert(MetadataIndex.load(partDirs.head, "rt").entries.size == 4)

    // read resolves through the manifest to remote URIs
    val df = GraftFileIndex.readTable(spark, cat, "default", "rt")
    assert(df.count() == 4)
    assert(df.inputFiles.forall(_.contains(dataRoot.getFileName.toString)))

    // an unlisted (half-uploaded) object is invisible: drop a stray file
    // next to the real ones and re-read
    val strayDir = Paths.get(uris.head.stripPrefix("file://")).getParent
    Files.writeString(strayDir.resolve("deadbeef.1.parquet"), "not parquet")
    assert(GraftFileIndex.readTable(spark, cat, "default", "rt").count() == 4)

    // compaction merges remotely and the local manifest swaps files
    val plans = Compactor.compactTable(spark, cat, "default", "rt", graceMs = 0L)
    assert(plans == 1)
    val idx = MetadataIndex.load(partDirs.head, "rt")
    assert(idx.entries.size == 1 && idx.entries.keys.head.endsWith(".2.parquet"))
    assert(idx.rowCount == 4)
    assert(GraftFileIndex.readTable(spark, cat, "default", "rt").count() == 4)

    // gc (grace elapsed) deletes the merged-away REMOTE objects
    Compactor.compactTable(spark, cat, "default", "rt", graceMs = 0L)
    val remoteLeft = Files.walk(dataRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(_.getFileName.toString).toSet
    assert(remoteLeft.exists(_.endsWith(".2.parquet")))
    assert(!remoteLeft.exists(f => f.endsWith(".1.parquet") && !f.startsWith("deadbeef")))
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}
