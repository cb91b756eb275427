package graft.streaming

import graft.SparkTestBase

/** Pins the gate family's commit protocol on the Hadoop FileSystem API:
  * every assertion here drives state dirs through an EXPLICIT `file:`
  * Hadoop URI — the path shape java.io.File cannot address — proving
  * the marker read/flip, listing, delete, and publish-rename all
  * resolve through the FS layer (the same code path an `hdfs://` or
  * `s3a://` deployment takes, modulo the scheme's FileSystem impl). */
class StateCommitSpec extends SparkTestBase {
  import spark.implicits._

  private def fileUri(prefix: String): String =
    "file:" + java.nio.file.Files.createTempDirectory(prefix).toString

  test("marker flip + read round-trip through a file: URI, atomic overwrite") {
    val dir = fileUri("graft_scm_")
    assert(StateCommit.readVersion(dir) === -1L)
    StateCommit.flipVersion(dir, 0L)
    assert(StateCommit.readVersion(dir) === 0L)
    // overwrite-rename replaces the live marker in place
    StateCommit.flipVersion(dir, 7L)
    assert(StateCommit.readVersion(dir) === 7L)
    // the flip left no UNBOUNDED litter behind: the tmp write goes
    // through the same FileContext as the rename, so the checksummed
    // local AbstractFileSystem (LocalFs = ChecksumFs over RawLocalFs)
    // renames the crc sidecar ALONGSIDE the marker — after any number
    // of flips the dir holds exactly _VERSION plus its one live
    // ._VERSION.crc, never a per-batch ._VERSION.tmpN.crc pile-up
    // (which a FileSystem-side create + FileContext rename produced)
    val names = StateCommit.listDirNames(dir)
    assert(names.isEmpty) // only files live here, no dirs
    val local = new java.io.File(new java.net.URI(dir))
    assert(local.listFiles().map(_.getName).toSet ===
      Set("_VERSION", "._VERSION.crc"))
    assert(StateCommit.requireVersion(dir, "spec state") === 7L)
  }

  test("requireVersion fails loud before any commit") {
    val dir = fileUri("graft_scm_req_")
    val ex = intercept[IllegalArgumentException] {
      StateCommit.requireVersion(dir, "spec state")
    }
    assert(ex.getMessage.contains("no committed spec state"))
  }

  test("upsert snapshot protocol end-to-end through a file: URI") {
    val dir = fileUri("graft_scm_up_")
    def b(rows: (Long, String, Long)*) = rows.toDF("k", "s", "seq")
    StreamingOps.applyUpsertBatch(
      b((1L, "a", 1L), (2L, "b", 1L)), 0L, Seq("k"), "seq", dir)
    StreamingOps.applyUpsertBatch(b((2L, "b2", 5L)), 1L, Seq("k"), "seq", dir)
    // replay of batch 1 must be skipped via the FS-API marker read
    StreamingOps.applyUpsertBatch(
      b((2L, "SHOULD_NOT_APPLY", 9L)), 1L, Seq("k"), "seq", dir)
    val snap = StreamingOps.readSnapshot(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(snap === Map(1L -> "a", 2L -> "b2"))
    assert(StreamingOps.listSnapshotVersions(dir) === Seq(0L, 1L))
    // time travel + retention also resolve through the FS listing
    assert(StreamingOps.readSnapshotAt(spark, dir, 0L)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(StreamingOps.vacuumVersions(dir, keepLast = 1) === Seq(0L))
    assert(StreamingOps.listSnapshotVersions(dir) === Seq(1L))
  }

  test("dedup-index compaction publishes and sweeps through the FS API") {
    val stateDir = fileUri("graft_scm_dd_")
    val outDir = fileUri("graft_scm_ddout_")
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val a = "the quick brown fox jumps over the lazy dog again and again"
    StreamingOps.applyDedupBatch(docs((1L, a)), 0L, stateDir, outDir, 0.8)
    StreamingOps.applyDedupBatch(docs((2L, a)), 1L, stateDir, outDir, 0.8)
    val folded = StreamingOps.compactDedupIndex(spark, stateDir)
    assert(folded === Seq(0L, 1L))
    // post-compaction: base dir only, deltas swept, index still serves
    val names = StateCommit.listDirNames(stateDir).toSet
    assert(names === Set("c1"))
    assert(StreamingOps.readDedupIndex(spark, stateDir).count() > 0L)
    // renameDir refuses a bogus publish
    val ex = intercept[IllegalArgumentException] {
      StateCommit.renameDir(s"$stateDir/does_not_exist", s"$stateDir/x")
    }
    assert(ex.getMessage.contains("cannot publish"))
  }
}
