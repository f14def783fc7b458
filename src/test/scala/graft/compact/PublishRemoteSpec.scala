package graft.compact

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import graft.SparkSpec
import graft.sources.ObjectStore

/** The copy-publish failure contract (review r15): a mid-copy failure can
  * leave a partial object at the FINAL key — in no manifest, on no drop
  * queue — and every retry mints a fresh UUID key, so each retry would
  * orphan a new partial. copyPublish must delete the key again before
  * propagating the failure; the flush and the merge both publish through
  * it (graft.ingest.Publish). Driven hermetically over file://, the same
  * code path as S3 (ObjectStore.scala scaladoc). */
class PublishRemoteSpec extends SparkSpec {

  test("a failed copy-publish deletes the partial object at the final key") {
    val dir = Files.createTempDirectory("graft-pubfail-")
    val dest = dir.resolve("0a1b2c3d.2.parquet")
    // stand-in for the partial bytes a mid-copy failure leaves behind
    Files.writeString(dest, "partial bytes from the failed copy")
    val missingSrc = new HPath(dir.resolve("no-such-staged-file").toUri)
    intercept[Exception] {
      ObjectStore.copyPublish(spark, missingSrc, dest.toUri.toString)
    }
    assert(!Files.exists(dest), s"partial object leaked at $dest")
  }

  test("a successful copy-publish leaves the object in place") {
    val dir = Files.createTempDirectory("graft-pubok-")
    val src = dir.resolve("staged.parquet")
    Files.writeString(src, "merged bytes")
    val dest = dir.resolve("out/0a1b2c3d.2.parquet")
    ObjectStore.copyPublish(spark, new HPath(src.toUri), dest.toUri.toString)
    assert(Files.readString(dest) == "merged bytes")
  }

  test("only graft.ingest.Publish publishes files or commits manifest adds in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val s = Files.walk(root)
    val sources =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString -> Files.readString(p)).toList
      finally s.close()
    def callers(call: scala.util.matching.Regex) =
      sources.collect { case (p, src) if call.findFirstIn(src).isDefined => p }.toSet
    // calls, not ObjectStore's definitions
    assert(callers("""(?<!def )\b(publishRename|copyPublish)\(""".r) ==
      Set("graft/ingest/Publish.scala"))
    // RetentionEnforcer's expiry is a remove-only batch: it publishes nothing
    assert(callers("""MetadataIndex\.batch\(""".r) ==
      Set("graft/ingest/Publish.scala", "graft/compact/RetentionEnforcer.scala"))
  }
}
