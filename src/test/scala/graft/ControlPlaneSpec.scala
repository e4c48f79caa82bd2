package graft

import java.io.File
import java.nio.file.Files
import graft.operators.NodeTree
import graft.streaming.ConfigReload

/** K5 jsTree serialization and S4 config hot-reload. */
class ControlPlaneSpec extends SparkSpec {
  import spark.implicits._

  test("toJsTreeJson: nested lowercase jsTree document, ordered, escaped (K5)") {
    val nodes = Seq(
      ("r1", null.asInstanceOf[String], "Objects"),
      ("r1/a", "r1", "Plant \"A\""),
      ("r1/b", "r1", "PlantB"),
      ("r1/a/x", "r1/a", "Inv1")).toDF("id", "parent_id", "text")
    val json = NodeTree.toJsTreeJson(NodeTree.bfs(nodes, openDepth = 2))
    assert(json ==
      """[{"text":"Objects","id":"r1","state":{"opened":true},"children":[""" +
      """{"text":"Plant \"A\"","id":"r1/a","state":{"opened":true},"children":[""" +
      """{"text":"Inv1","id":"r1/a/x","state":{"opened":false},"children":[]}]},""" +
      """{"text":"PlantB","id":"r1/b","state":{"opened":true},"children":[]}]}]""")
  }

  test("ConfigReload.watch: json change stops the query and relaunches from new config (S4)") {
    val dir = Files.createTempDirectory("graft-config").toFile
    val cfg = new File(dir, "site_devices.json")
    Files.write(cfg.toPath, "{\"v\":1}".getBytes)
    @volatile var launches = 0
    val handle = ConfigReload.watch(dir, pollMs = 100L) { () =>
      launches += 1
      spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("noop").start()
    }
    try {
      assert(launches == 1)
      val q1 = handle.currentQuery
      Thread.sleep(300)
      Files.write(cfg.toPath, "{\"v\":2}".getBytes)
      cfg.setLastModified(System.currentTimeMillis() + 2000) // defeat mtime granularity
      // the content write and the mtime bump may be seen as two separate
      // changes → possibly two relaunch cycles; wait for a stable state
      val deadline = System.currentTimeMillis() + 15000
      def settled = launches >= 2 && handle.currentQuery != null &&
        handle.currentQuery.isActive
      while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(launches >= 2)
      assert(!q1.isActive)          // old query cancelled
      assert(handle.currentQuery.isActive)
    } finally handle.close()
  }

  test("FileConfigStore.replaceAll leaves a file whose bytes do not change untouched") {
    import graft.control.FileConfigStore
    import graft.operators.DtoMapping.{BrowseExclusionFolder, ConnectionEntity}
    val dir = Files.createTempDirectory("graft-config-store").toFile
    val store = new FileConfigStore(spark, dir)
    def conn(url: String) = ConnectionEntity(1, url, "user", Array[Byte](1, 2, 3), 5000, 100)
    val folders = Seq(BrowseExclusionFolder(1L, 1, "Server"))
    store.replaceAll(Seq(conn("opc.tcp://a:4840")), folders)
    val (conns, flds) = (new File(dir, "connections.json"), new File(dir, "exclusion_folders.json"))
    val past = 1000000000000L // 2001-09-09: any later write moves it
    Seq(conns, flds).foreach(f => assert(f.setLastModified(past)))
    store.replaceAll(Seq(conn("opc.tcp://b:4840")), folders)
    // the changed connection list is rewritten; the folder list is not,
    // so a ConfigReload watcher sees one change, not two
    assert(conns.lastModified() != past)
    assert(flds.lastModified() == past)
    val (ents, fs) = store.load()
    assert(ents.map(_.url) == Seq("opc.tcp://b:4840") && fs == folders)
  }

  test("ConfigReload: failed relaunch retries on the next poll instead of dying (S3 retry parity)") {
    val dir = Files.createTempDirectory("graft-config-retry").toFile
    val cfg = new File(dir, "cfg.json")
    Files.write(cfg.toPath, "{\"v\":1}".getBytes)
    @volatile var launches = 0
    val handle = ConfigReload.watch(dir, pollMs = 100L) { () =>
      launches += 1
      if (launches == 2) throw new RuntimeException("config mid-write")
      spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("noop").start()
    }
    try {
      Thread.sleep(300)
      Files.write(cfg.toPath, "{\"v\":2}".getBytes)
      cfg.setLastModified(System.currentTimeMillis() + 2000)
      val deadline = System.currentTimeMillis() + 15000
      // launch 2 throws; the watcher must retry and succeed with launch 3
      while ((launches < 3 || handle.currentQuery == null) &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(launches >= 3)
      assert(handle.currentQuery != null && handle.currentQuery.isActive)
    } finally handle.close()
  }

  test("browse job under the registry: G1 BFS guarded by G2 admission, as in the reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val reg = new graft.operators.BrowseJobRegistry(
      java.nio.file.Files.createTempDirectory("browse_g1g2").toFile)
    val nodes = Seq(
      ("r", null.asInstanceOf[String], "Root"),
      ("a", "r", "Device A"), ("b", "r", "Device B"))
      .toDF("id", "parent_id", "text")
    val url = "opc.tcp://site:4840"
    // the reference's BrowseService.run: browse executes iff admitted
    val first = reg.run(url)(graft.operators.NodeTree.bfs(nodes).count())
    assert(first.contains(3L))
    assert(reg.status(url).contains(graft.operators.BrowseJobRegistry.Completed))
    // a second browse of the same connection is admitted after completion
    assert(reg.run(url)(graft.operators.NodeTree.bfs(nodes)
      .filter(col("depth") === lit(1)).count()).contains(2L))
  }
}
