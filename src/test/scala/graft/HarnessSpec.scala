package graft

import org.scalatest.BeforeAndAfterAll
import graft.streaming.CurrentValuesSink.ModRow

/** [[Harness.withModvalues]], the Postgres fixture of the harness mains,
  * against a live ephemeral server (like PgLiveSpec, those tests cancel
  * with the reason where no server can run), plus the JSON string encoder
  * and the commit every artifact records.
  */
class HarnessSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var unavailable: Option[String] = None

  override def beforeAll(): Unit =
    unavailable = graft.control.PgEphemeral.start() match {
      case Right(s) => s.stop(); None
      case Left(reason) => Some(reason)
    }

  private def live(): Unit = unavailable.foreach(r => cancel(s"live Postgres unavailable: $r"))

  /** The rows of `sql`, whose first `nCols` columns are read as strings. */
  private def query(connect: () => java.sql.Connection, nCols: Int, sql: String): Seq[Seq[String]] = {
    val c = connect()
    try {
      val rs = c.createStatement().executeQuery(sql)
      val out = Seq.newBuilder[Seq[String]]
      while (rs.next()) out += (1 to nCols).map(rs.getString)
      out.result()
    } finally c.close()
  }

  test("withModvalues: production's modvalues schema, and a target that works in foreachPartition") {
    live()
    Harness.withModvalues("harness_schema") { (connect, target) =>
      val columns = query(connect, 3,
        "SELECT column_name, data_type, is_nullable FROM information_schema.columns " +
          "WHERE table_name = 'modvalues' ORDER BY ordinal_position")
      assert(columns == Seq(
        Seq("device", "text", "NO"), Seq("measure_name", "text", "NO"),
        Seq("tag_value", "real", "YES"), Seq("measure_value", "real", "YES"),
        Seq("last_updated", "text", "YES")))
      val key = query(connect, 1,
        "SELECT k.column_name FROM information_schema.table_constraints t " +
          "JOIN information_schema.key_column_usage k ON k.constraint_name = t.constraint_name " +
          "WHERE t.table_name = 'modvalues' AND t.constraint_type = 'PRIMARY KEY' " +
          "ORDER BY k.ordinal_position")
      assert(key == Seq(Seq("device"), Seq("measure_name")))

      // tasks are serialized even in local mode: the target and its
      // connect function must cross into the executor as bytes
      val rows = (0 until 12).map(i =>
        ModRow(s"dev-$i", "temp", i, 2.0 * i, "2024-01-01T00:00:00.000000"))
      rows.toDS().repartition(3)
        .foreachPartition((it: Iterator[ModRow]) => target.upsertPartition(it))
      assert(Harness.readModvalues(connect).toSet == rows.toSet)
    }
  }

  test("withModvalues stops the server when the body throws") {
    live()
    final class Boom extends RuntimeException("boom")
    var port = 0
    intercept[Boom] {
      Harness.withModvalues("harness_throw") { (connect, _) =>
        port = connect.port
        connect().close() // the server is up inside the body
        throw new Boom
      }
    }
    assert(port > 0)
    intercept[java.net.ConnectException](new java.net.Socket("127.0.0.1", port).close())
  }

  test("q: every artifact string round-trips through a strict JSON reader") {
    val s = "quote \" backslash \\ tab \t cr \r nl \n ctl \u0001 \u001f del \u007f é 日本 😀"
    val encoded = Harness.q(s)
    assert(!encoded.exists(_ < ' '), "raw control character in the literal")
    assert(new com.fasterxml.jackson.databind.ObjectMapper().readValue(encoded, classOf[String]) == s)
  }

  test("gitTree reads the checkout it is given; checkoutOf walks up to the .git") {
    val repo = java.nio.file.Files.createTempDirectory("graft-git").toFile
    def git(args: String*): String = {
      val p = new ProcessBuilder(Seq("git", "-c", "user.name=t", "-c", "user.email=t@t",
        "-c", "commit.gpgsign=false") ++ args: _*).directory(repo).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      assume(p.waitFor() == 0, s"git ${args.mkString(" ")}: $out")
      out
    }
    git("init", "-q")
    java.nio.file.Files.write(new java.io.File(repo, "f").toPath, "x".getBytes)
    git("add", "f"); git("commit", "-q", "-m", "c")
    val head = git("rev-parse", "--short=12", "HEAD")
    // the test JVM runs in another directory: the hash is repo's own
    assert(Harness.gitTree(repo) == head)
    // where sbt puts the classes, inside the checkout
    val classes = new java.io.File(repo, "target/scala-2.13/classes")
    assert(classes.mkdirs())
    assert(Harness.checkoutOf(classes).contains(repo.getAbsoluteFile))
    java.nio.file.Files.write(new java.io.File(classes, "Harness.class").toPath, Array[Byte](0))
    assert(Harness.gitTree(repo) == s"$head+dirty") // target/ is untracked
    val outside = java.nio.file.Files.createTempDirectory("graft-no-git").toFile
    assert(Harness.checkoutOf(outside).isEmpty)
    assert(Harness.gitTree(outside) == "unknown")
  }
}
