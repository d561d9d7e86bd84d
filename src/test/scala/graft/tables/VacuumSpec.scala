package graft.tables

import graft.SparkSpec

/** VACUUM: reaps exactly the files the current manifest no longer
  * references, counts without deleting on a dry run, and follows DV
  * sidecar liveness.
  */
class VacuumSpec extends SparkSpec {
  import spark.implicits._

  /** A multi-version table whose rewrites orphan the old files. */
  private def rewrittenTable(tag: String): ResourceTable = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    val tab = ResourceTable(spark, s"$dir/t.parquet")
    val v1 = (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v")
    tab.createIfNotExists(v1.schema)
    tab.upsert(v1, "k")
    tab.upsert((1L to 40L).map(i => (i, s"w$i")).toDF("k", "v"), "k")
    tab.upsert((10L to 20L).map(i => (i, s"x$i")).toDF("k", "v"), "k")
    tab
  }

  /** Every file under the table's snapshot dirs, root-relative. */
  private def relFiles(tab: ResourceTable): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(tab.path)
    val fs = root.getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("snap-"))
      .flatMap(s => fs.listStatus(s.getPath).map(e =>
        s"${s.getPath.getName}/${e.getPath.getName}"))
      .toSet
  }

  private def rows(tab: ResourceTable) =
    tab.read().orderBy("k").as[(Long, String)].collect().toSeq

  test("vacuum reaps orphaned files and the table reads back unchanged") {
    val tab = rewrittenTable("vac")
    val before = rows(tab)
    val n = tab.vacuum(retentionMs = 0)
    assert(n > 0, "fixture must actually orphan files")
    // survivors are the manifest's own data files, nothing else
    val live = tab.fileManifest(tab.latestVersion.get).toSet
    assert(relFiles(tab).filter(_.endsWith(".parquet")) == live)
    assert(rows(tab) == before && before.size == 40)
  }

  test("dry run counts exactly what a real pass removes and deletes nothing") {
    val tab = rewrittenTable("vacdry")
    val files = relFiles(tab)
    val n = tab.vacuum(retentionMs = 0, dryRun = true)
    assert(n > 0)
    assert(relFiles(tab) == files, "dry run must delete nothing")
    assert(tab.read().count() == 40)
    assert(tab.vacuum(retentionMs = 0) == n)
  }

  test("vacuum spares live DV sidecars, reaps orphaned ones") {
    val dir = java.nio.file.Files.createTempDirectory("vacdv").toString
    val tab = ResourceTable(spark, s"$dir/t.parquet")
    val v1 = (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
    tab.createIfNotExists(v1.schema)
    tab.upsert(v1, "k")
    tab.enableDeletionVectors()
    // force a sidecar (inline threshold down), then orphan it by
    // rewriting the file with a fresh upsert
    spark.conf.set("graft.table.dv.inlineMaxBytes", "0")
    try {
      tab.deleteMatching((1L to 5L).toDF("k"), "k")
      val root = new org.apache.hadoop.fs.Path(tab.path)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      def sidecars = fs.listStatus(root).filter(s =>
        s.getPath.getName.startsWith("deletion_vector_")).map(_.getPath.getName).toSet
      val live = sidecars
      assert(live.nonEmpty)
      tab.vacuum(retentionMs = 0)
      assert(sidecars == live, "live sidecar must survive")
      assert(tab.read().count() == 395)
      // rewriting the table clears the DV -> sidecar orphaned -> reaped
      tab.upsert((1L to 400L).map(i => (i, s"z$i")).toDF("k", "v"), "k")
      tab.vacuum(retentionMs = 0)
      assert(sidecars.isEmpty, "orphaned sidecar must be reaped")
      assert(tab.read().count() == 400)
    } finally spark.conf.unset("graft.table.dv.inlineMaxBytes")
  }
}
