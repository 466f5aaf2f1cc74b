package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable

/** Manifest format. Migration: a manifest written before the
  * tombstoneFloor→tombstoneGcVersion rename must not deserialize into a
  * DISABLED (-1) bootstrap tombstone-resurrection guard when the legacy
  * field shows tombstones were GC'd — it maps conservatively to the
  * manifest's own version (refusal is the safe direction). Integrity: a
  * torn head manifest fails the table open with an error naming the
  * table, the version and the file. */
class ManifestMigrationSpec extends AnyFunSuite {

  private def writeManifest(root: String, extra: String): Unit = {
    val log = Paths.get(root, "_log")
    Files.createDirectories(log)
    val json =
      s"""{
         |  "version": 7,
         |  "epochWatermark": 3,
         |  "lastSeq": 99,
         |  "schemaJson": "{\\"type\\":\\"struct\\",\\"fields\\":[]}",
         |  "numBuckets": 8,
         |  "bucketFn": "${LakeTable.BucketFn}",
         |  "keyCols": ["repo", "path"],
         |  "files": [],
         |  "lineage": {},
         |  "lineageEpochFloor": 0$extra
         |}""".stripMargin
    Files.writeString(log.resolve("v00000007.json"), json)
  }

  test("legacy tombstoneFloor >= 0 maps to the manifest's own version") {
    val root = Files.createTempDirectory("graft-manifest-mig").toString
    writeManifest(root, ",\n  \"tombstoneFloor\": 5")
    val m = new LakeTable(root, 8).readManifest(7)
    assert(m.tombstoneGcVersion == 7,
      "a legacy GC floor must keep the bootstrap guard armed")
  }

  test("absent legacy key still deserializes as guard-disabled (-1)") {
    val root = Files.createTempDirectory("graft-manifest-mig").toString
    writeManifest(root, "")
    val m = new LakeTable(root, 8).readManifest(7)
    assert(m.tombstoneGcVersion == -1L)
  }

  test("legacy tombstoneFloor = -1 (never GC'd) stays disabled") {
    val root = Files.createTempDirectory("graft-manifest-mig").toString
    writeManifest(root, ",\n  \"tombstoneFloor\": -1")
    val m = new LakeTable(root, 8).readManifest(7)
    assert(m.tombstoneGcVersion == -1L)
  }

  test("a present tombstoneGcVersion wins over any legacy key") {
    val root = Files.createTempDirectory("graft-manifest-mig").toString
    writeManifest(root, ",\n  \"tombstoneFloor\": 5,\n  \"tombstoneGcVersion\": 4")
    val m = new LakeTable(root, 8).readManifest(7)
    assert(m.tombstoneGcVersion == 4L)
  }

  test("a torn head manifest fails the open naming table, version and file") {
    val root = Files.createTempDirectory("graft-manifest-torn").toString
    writeManifest(root, "")
    val head = Paths.get(root, "_log", "v00000007.json")
    val full = Files.readAllBytes(head)
    // a write cut off mid-file, then one cut off before its first byte
    Seq(full.take(full.length / 2), Array.emptyByteArray).foreach { torn =>
      Files.write(head, torn)
      val ex = intercept[IllegalStateException] {
        new LakeTable(root, 8).currentManifest
      }
      assert(ex.getMessage.contains(s"table $root"), ex.getMessage)
      assert(ex.getMessage.contains("manifest version 7"), ex.getMessage)
      assert(ex.getMessage.contains(head.toString), ex.getMessage)
      assert(ex.getMessage.contains("torn or unparseable"), ex.getMessage)
    }
  }
}
