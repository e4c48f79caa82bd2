package graft.control

import java.nio.file.Files
import scala.sys.process.{Process, ProcessLogger}

/** Ephemeral Postgres 15 lifecycle — initdb (trust auth) into a temp
  * dir, pg_ctl start on a free port, readiness-probed through [[PgWire]]
  * itself, torn down with `pg_ctl -m immediate stop`. Shared by
  * PgLiveSpec (engine-verifies the Postgres dialect), the harness
  * mains' `graft.Harness.withModvalues` fixture and the benchmark's
  * ingest runs. `start()` returns Left(reason) where
  * no server can run (no binaries, root JVM without a postgres OS user)
  * — callers cancel/skip rather than fail.
  */
object PgEphemeral {

  final class Server(val port: Int, binDir: String, dir: java.io.File) {
    def connect(database: String): java.sql.Connection =
      PgWire.connect("127.0.0.1", port, "postgres", database)
    def createDatabase(name: String): Unit = {
      val admin = connect("postgres")
      try admin.createStatement().execute(s"CREATE DATABASE $name")
      finally admin.close()
    }
    def stop(): Unit = {
      val data = new java.io.File(dir, "data").getAbsolutePath
      sh(asPg(Seq(s"$binDir/pg_ctl", "-D", data, "-m", "immediate", "stop")))
      sh(Seq("rm", "-rf", dir.getAbsolutePath))
    }
  }

  private def sh(cmd: Seq[String]): (Int, String) = {
    val out = new StringBuilder
    val logger = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    (Process(cmd).!(logger), out.toString)
  }

  private def findBin(): Option[String] = {
    val candidates =
      new java.io.File("/usr/lib/postgresql").listFiles() match {
        case null => Array.empty[java.io.File]
        case vs => vs.sortBy(_.getName).reverse.map(v => new java.io.File(v, "bin"))
      }
    (candidates.toSeq :+ new java.io.File("/usr/local/bin"))
      .find(d => new java.io.File(d, "initdb").canExecute &&
        new java.io.File(d, "pg_ctl").canExecute)
      .map(_.getAbsolutePath)
  }

  /** postgres refuses to run as uid 0; when the JVM is root the server
    * runs under the `postgres` OS user via runuser.
    */
  private def asPg(cmd: Seq[String]): Seq[String] =
    if ("root" == System.getProperty("user.name"))
      Seq("runuser", "-u", "postgres", "--") ++ cmd
    else cmd

  def start(): Either[String, Server] = {
    val binDir = findBin().getOrElse(return Left("no Postgres binaries on this box"))
    if ("root" == System.getProperty("user.name")) {
      val (rc, _) = sh(Seq("id", "-u", "postgres"))
      if (rc != 0) return Left("root JVM and no postgres OS user")
    }
    val dir = Files.createTempDirectory("graft-pg").toFile
    // every failure path below must clean up what it started (the review
    // caught the readiness-timeout path leaking a LIVE server plus the
    // temp dir on all three Left returns)
    def fail(reason: String, serverStarted: Boolean): Either[String, Server] = {
      if (serverStarted)
        sh(asPg(Seq(s"$binDir/pg_ctl", "-D",
          new java.io.File(dir, "data").getAbsolutePath, "-m", "immediate", "stop")))
      sh(Seq("rm", "-rf", dir.getAbsolutePath))
      Left(reason)
    }
    sh(Seq("chmod", "777", dir.getAbsolutePath))
    if ("root" == System.getProperty("user.name"))
      sh(Seq("chown", "-R", "postgres:postgres", dir.getAbsolutePath))
    val data = new java.io.File(dir, "data").getAbsolutePath
    val (rcInit, initOut) = sh(asPg(Seq(s"$binDir/initdb", "-A", "trust", "-D", data, "-U", "postgres")))
    if (rcInit != 0) return fail(s"initdb failed: ${initOut.takeRight(300)}", serverStarted = false)
    // probe-a-free-port then pg_ctl-start is inherently TOCTOU: another
    // process can grab the port between the ServerSocket close and the
    // postmaster bind, which surfaces as a readiness timeout. Bounded
    // retry with a freshly probed port instead of failing outright.
    var attempt = 0
    while (attempt < 2) {
      attempt += 1
      val ss = new java.net.ServerSocket(0)
      val port = ss.getLocalPort; ss.close()
      val (rcStart, startOut) = sh(asPg(Seq(s"$binDir/pg_ctl", "-D", data,
        "-o", s"-p $port -k ${dir.getAbsolutePath} -c listen_addresses=127.0.0.1",
        "-l", new java.io.File(dir, "pg.log").getAbsolutePath, "start")))
      if (rcStart != 0) return fail(s"pg_ctl start failed: ${startOut.takeRight(300)}", serverStarted = false)
      // wait for readiness through the wire client itself
      val deadline = System.nanoTime() + 30_000_000_000L
      var ok = false
      while (!ok && System.nanoTime() < deadline) {
        try { PgWire.connect("127.0.0.1", port, "postgres", "postgres").close(); ok = true }
        catch { case _: Exception => Thread.sleep(200) }
      }
      if (ok) return Right(new Server(port, binDir, dir))
      if (attempt < 2) {
        System.err.println(s"[pg-ephemeral] not ready in 30s on port $port " +
          "(possible port race) — stopping and retrying on a fresh port")
        sh(asPg(Seq(s"$binDir/pg_ctl", "-D", data, "-m", "immediate", "stop")))
      }
    }
    fail("server did not become ready in 30s (2 attempts, fresh port each)", serverStarted = true)
  }
}
