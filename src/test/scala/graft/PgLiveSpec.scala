package graft


import java.sql.{Connection, SQLException}



import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.control.{JdbcConfigStore, PgWire}
import graft.operators.DtoMapping.{BrowseExclusionFolder, ConnectionEntity}
import graft.streaming.JdbcUpsert
import graft.streaming.CurrentValuesSink.ModRow

/** The LIVE Postgres leg for [[JdbcConfigStore]] and [[JdbcUpsert]] —
  * the reference's actual deployment engine (EF over Npgsql). No JDBC
  * driver jar is resolvable offline, so the spec drives the server
  * through [[PgWire]], the hand-written v3 wire-protocol client. Server
  * lifecycle (initdb trust-auth into a temp dir, free port, immediate
  * stop + delete) lives in [[graft.control.PgEphemeral]], shared with
  * the harness mains' [[Harness.withModvalues]] fixture. When the sandbox lacks
  * the Postgres binaries (or a non-root user to run them as — postgres
  * refuses root), every test cancels with the reason rather than
  * failing: the Derby leg (ControlPlaneJdbcSpec/JdbcDerbySpec) stays
  * the always-on live-engine matrix.
  */
class PgLiveSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var server: Option[graft.control.PgEphemeral.Server] = None
  private var port: Int = 0
  private var unavailable: Option[String] = None

  override def beforeAll(): Unit =
    graft.control.PgEphemeral.start() match {
      case Right(s) => server = Some(s); port = s.port
      case Left(reason) => unavailable = Some(reason)
    }

  override def afterAll(): Unit = server.foreach(_.stop())

  private def live(): Unit = unavailable.foreach(r => cancel(s"live Postgres unavailable: $r"))

  private var dbN = 0
  /** A fresh database per test — the freshDb() convention of the Derby spec. */
  private def freshDb(): () => Connection = {
    dbN += 1
    val name = s"graft_t$dbN"
    val admin = PgWire.connect("127.0.0.1", port, "postgres", "postgres")
    try admin.createStatement().execute(s"CREATE DATABASE $name")
    finally admin.close()
    () => PgWire.connect("127.0.0.1", port, "postgres", name)
  }

  test("wire client: types round-trip (int, bigint, text, bytea, null) and SQLSTATE surfaces") {
    live()
    val conn = freshDb()()
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE t (a INT, b BIGINT, c TEXT, d BYTEA, e TEXT)")
      val ins = conn.prepareStatement("INSERT INTO t VALUES (?, ?, ?, ?, ?)")
      ins.setInt(1, 42); ins.setLong(2, 1L << 40)
      ins.setString(3, "it's quoted"); ins.setBytes(4, Array[Byte](0, 1, -1, 127))
      ins.setNull(5, java.sql.Types.VARCHAR)
      assert(ins.executeUpdate() == 1)
      val rs = st.executeQuery("SELECT a, b, c, d, e FROM t")
      assert(rs.next())
      assert(rs.getInt(1) == 42 && rs.getLong(2) == (1L << 40))
      assert(rs.getString(3) == "it's quoted")
      assert(rs.getBytes(4).toSeq == Seq[Byte](0, 1, -1, 127))
      assert(rs.getString(5) == null && rs.wasNull())
      assert(!rs.next())
      val e = intercept[SQLException](st.executeQuery("SELECT * FROM missing_table"))
      assert(e.getSQLState == "42P01") // undefined_table
    } finally conn.close()
  }

  test("wire client: transaction abort + rollback recovers the session") {
    live()
    val connect = freshDb()
    val conn = connect()
    try {
      conn.createStatement().execute("CREATE TABLE tx (a INT PRIMARY KEY)")
      conn.setAutoCommit(false)
      conn.createStatement().executeUpdate("INSERT INTO tx VALUES (1)")
      // duplicate key aborts the txn; ROLLBACK must recover the session
      val e = intercept[SQLException](
        conn.createStatement().executeUpdate("INSERT INTO tx VALUES (1)"))
      assert(e.getSQLState == "23505")
      conn.rollback()
      conn.setAutoCommit(true)
      val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM tx")
      rs.next(); assert(rs.getInt(1) == 0) // rolled back
    } finally conn.close()
  }

  test("JdbcConfigStore matrix: bootstrap, CRUD round-trip, FK cascade, ciphertext at rest on LIVE Postgres") {
    live()
    val connect = freshDb()
    val store = new JdbcConfigStore(connect, dialect = JdbcConfigStore.Postgres)
    val secret = "hunter2-bytes".getBytes("UTF-8")
    store.replaceAll(
      Seq(ConnectionEntity(1, "opc.tcp://a:4840", "svc", secret, 5000, 100),
        ConnectionEntity(2, "opc.tcp://b:4840", "svc2", Array[Byte](9, 8), 1000, 50)),
      Seq(BrowseExclusionFolder(10L, 1, "Diagnostics"),
        BrowseExclusionFolder(11L, 2, "Internal")))
    val (ents, flds) = store.load()
    assert(ents.map(_.id) == Seq(1, 2) && flds.map(_.id) == Seq(10L, 11L))
    assert(ents.head.encryptedPassword.toSeq == secret.toSeq)
    // at rest the password column holds EXACTLY the ciphertext bytes
    val conn = connect()
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT encrypted_password FROM ${JdbcConfigStore.ConnTable} WHERE id = 1")
      rs.next(); assert(rs.getBytes(1).toSeq == secret.toSeq)
    } finally conn.close()
    // FK cascade: replacing with only conn 2 must delete folder 10 via the child FK
    store.replaceAll(Seq(ConnectionEntity(2, "opc.tcp://b:4840", "svc2", Array[Byte](9), 1000, 50)),
      Seq(BrowseExclusionFolder(11L, 2, "Internal")))
    val conn2 = connect()
    try {
      val rs = conn2.createStatement().executeQuery(
        s"SELECT COUNT(*) FROM ${JdbcConfigStore.FolderTable}")
      rs.next(); assert(rs.getInt(1) == 1)
    } finally conn2.close()
    // re-instantiation probes the existing schema (lower-fold leg of tableExists)
    val store2 = new JdbcConfigStore(connect, dialect = JdbcConfigStore.Postgres)
    assert(store2.load()._1.map(_.id) == Seq(2))
  }

  test("bootstrap swallows the 42P07 duplicate-table race; other DDL errors propagate") {
    live()
    val connect = freshDb()
    JdbcConfigStore.bootstrap(connect, JdbcConfigStore.Postgres)
    // direct duplicate CREATE surfaces the state the dialect swallows
    val conn = connect()
    try {
      val e = intercept[SQLException](conn.createStatement()
        .execute(JdbcConfigStore.createConnTableSql(JdbcConfigStore.Postgres)))
      assert(JdbcConfigStore.Postgres.tableExistsStates.contains(e.getSQLState))
    } finally conn.close()
    // bootstrap again over the existing schema: metadata probe path, no throw
    JdbcConfigStore.bootstrap(connect, JdbcConfigStore.Postgres)
  }

  test("JdbcUpsert Postgres dialect LIVE: ON CONFLICT upsert/seed, reset, heartbeat, rollback") {
    live()
    val connect = freshDb()
    JdbcUpsert.bootstrap(connect)
    val target = new JdbcUpsert.Target(connect, batchSize = 2,
      dialect = JdbcUpsert.Postgres)
    def rows(): Map[(String, String), (Double, Double, String)] = {
      val conn = connect()
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT device, measure_name, tag_value, measure_value, last_updated FROM ${JdbcUpsert.Table} ORDER BY 1, 2")
        val b = Map.newBuilder[(String, String), (Double, Double, String)]
        while (rs.next()) b += (rs.getString(1), rs.getString(2)) ->
          ((rs.getDouble(3), rs.getDouble(4), rs.getString(5)))
        b.result()
      } finally conn.close()
    }
    // insert leg (3 rows > batchSize exercises chunking)
    target.upsertPartition(Iterator(
      ModRow("devA", "temp", 1.0, 10.0, "t1"),
      ModRow("devA", "myPV_online", 1.0, 1.0, "t1"),
      ModRow("devB", "temp", 2.0, 20.0, "t1")))
    assert(rows()(("devA", "temp")) == ((1.0, 10.0, "t1")))
    // conflict leg: same keys, new values — DO UPDATE, still 3 rows
    target.upsertPartition(Iterator(
      ModRow("devA", "temp", 3.0, 30.0, "t2"),
      ModRow("devA", "myPV_online", 1.0, 1.0, "t2"),
      ModRow("devB", "temp", 4.0, 40.0, "t2")))
    val afterUpdate = rows()
    assert(afterUpdate.size == 3 && afterUpdate(("devA", "temp")) == ((3.0, 30.0, "t2")))
    // seed: DO NOTHING on existing, insert on missing
    target.seed(Seq(("devA", "temp"), ("devC", "temp")), "t3")
    val afterSeed = rows()
    assert(afterSeed(("devA", "temp")) == ((3.0, 30.0, "t2"))) // untouched
    assert(afterSeed(("devC", "temp")) == ((0.0, 0.0, "t3")))
    // heartbeat touches ONLY devices whose online flag is 1 (devA)
    target.heartbeat("t4")
    val afterHb = rows()
    assert(afterHb(("devA", "temp"))._3 == "t4" && afterHb(("devB", "temp"))._3 == "t2")
    // offline reset zeroes the online measure rows
    target.offlineReset("t5")
    assert(afterHb(("devA", "myPV_online"))._1 == 1.0)
    assert(rows()(("devA", "myPV_online")) == ((0.0, 0.0, "t5")))
    // rollback: a failing row mid-batch must leave the table unchanged
    val before = rows()
    intercept[Exception] {
      target.upsertPartition(Iterator(
        ModRow("devA", "temp", 9.0, 90.0, "t6"),
        ModRow(null, "boom", 0.0, 0.0, "t6"))) // NOT NULL violation
    }
    assert(rows() == before)
  }
}
