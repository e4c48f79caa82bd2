package graft

import java.sql.Connection
import org.apache.spark.sql.SparkSession
import graft.control.{PgEphemeral, PgWire}
import graft.streaming.CurrentValuesSink.ModRow
import graft.streaming.JdbcUpsert

/** The set-up every harness main shares: one way to build a session, one
  * ephemeral Postgres `modvalues` fixture and its read-back, and the
  * commit an artifact records.
  */
object Harness {

  /** A fresh session in UTC with the UI off. Any active or default
    * session is cleared first, so a main that runs two masters in turn
    * gets the master it asks for. `extra` carries what a caller needs
    * beyond that (state-store provider, executor classpath, IO codec,
    * app name).
    */
  def session(master: String, shufflePartitions: Int, logLevel: String = "WARN",
              extra: Map[String, String] = Map.empty): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** JDK 17 `--add-opens` flags for a JVM this main launches itself
    * (spawned children, local-cluster executors); build.sbt's
    * javaOptions give the same set to the sbt-forked JVM.
    */
  val AddOpens: Seq[String] = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")

  /** Connect function for an ephemeral Postgres database. It holds only
    * the port and database name, so it serializes into executor tasks
    * and child JVMs; a closure over the server handle would not
    * (commit 90f1288).
    */
  final case class PgConnect(port: Int, database: String) extends (() => Connection) {
    def apply(): Connection = PgWire.connect("127.0.0.1", port, "postgres", database)
  }

  /** Runs `body` against a fresh ephemeral Postgres holding database `db`
    * with production's `modvalues` table ([[JdbcUpsert.bootstrap]]).
    * `body` gets the connect function and a Postgres-dialect target.
    * The server is stopped on every exit path; a box that cannot run
    * Postgres fails here with the reason.
    */
  def withModvalues[T](db: String)(body: (PgConnect, JdbcUpsert.Target) => T): T = {
    val server = PgEphemeral.start() match {
      case Right(s) => s
      case Left(reason) => sys.error(s"needs an ephemeral Postgres: $reason")
    }
    try {
      server.createDatabase(db)
      val connect = PgConnect(server.port, db)
      JdbcUpsert.bootstrap(connect)
      body(connect, new JdbcUpsert.Target(connect, dialect = JdbcUpsert.Postgres))
    } finally server.stop()
  }

  /** Every `modvalues` row, ordered by (device, measure_name). */
  def readModvalues(connect: () => Connection): Seq[ModRow] = {
    val c = connect()
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT device, measure_name, tag_value, measure_value, last_updated " +
          "FROM modvalues ORDER BY device, measure_name")
      val out = Seq.newBuilder[ModRow]
      while (rs.next()) out += ModRow(
        rs.getString(1), rs.getString(2), rs.getDouble(3), rs.getDouble(4), rs.getString(5))
      out.result()
    } finally c.close()
  }

  /** The commit an artifact certifies, so staleness is self-evident from
    * the file alone: the short HEAD hash, `+dirty` when the tree has
    * uncommitted changes, "unknown" without git rather than failing the
    * run.
    */
  def gitTree(): String = {
    def run(cmd: String*): Option[String] =
      try {
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0) Some(out) else None
      } catch { case _: Exception => None }
    run("git", "rev-parse", "--short=12", "HEAD") match {
      case Some(h) =>
        val dirty = run("git", "status", "--porcelain").exists(_.nonEmpty)
        if (dirty) s"$h+dirty" else h
      case None => "unknown"
    }
  }
}
