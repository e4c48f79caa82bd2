package graft.control

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Connection
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.DtoMapping.{BrowseExclusionFolder, ConnectionEntity}

/** Persistence behind [[ControlPlane]] — the reference's two EF tables
  * (`Data/ApplicationDbContext.cs:12-13`: `OpcClientConnections`,
  * `BrowseExclusionFolders`) as a pluggable store. Two implementations:
  *
  *   - [[FileConfigStore]] — JSON lines in the sos-config directory
  *     (the original rebuild design; every write IS the reload trigger
  *     because [[graft.streaming.ConfigReload]] watches `*.json` there).
  *   - [[JdbcConfigStore]] — the tables in a real database via JDBC,
  *     matching the reference's EF-migrations shape
  *     (`Migrations/ApplicationDbContextModelSnapshot.cs:24-93`): parent
  *     PK on id, child FK with ON DELETE CASCADE. Exercised live against
  *     embedded Derby (ControlPlaneJdbcSpec); a [[JdbcConfigStore.Dialect]]
  *     switch (binary column type + already-exists SQLState) makes the
  *     same store drop-in for the reference's Postgres deployment.
  *
  * Both stores hold control-plane-sized data (tens of rows — the
  * reference's client-connection list), so whole-set replace per mutation
  * is the right write shape; atomicity comes from the file move or the
  * transaction respectively.
  */
trait ConfigStore {
  /** Read both tables — a consistent snapshot (callers serialize). */
  def load(): (Seq[ConnectionEntity], Seq[BrowseExclusionFolder])

  /** Atomically replace both tables with the given rows. */
  def replaceAll(ents: Seq[ConnectionEntity], flds: Seq[BrowseExclusionFolder]): Unit
}

/** JSON-lines persistence in `configDir` (connections.json +
  * exclusion_folders.json), FAILFAST-parsed through Spark like the S3
  * config loaders; binary password base64-rendered in storage.
  */
final class FileConfigStore(spark: SparkSession, configDir: File) extends ConfigStore {
  import FileConfigStore._

  configDir.mkdirs()
  private val entitiesFile = new File(configDir, "connections.json")
  private val foldersFile = new File(configDir, "exclusion_folders.json")

  private def readFile(f: File): Seq[String] =
    if (!f.exists()) Seq.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).toSeq

  /** Atomic replace (temp + move): the ConfigReload watcher and any
    * concurrent reader see either the old or the new config, never a
    * torn write. A file whose bytes would not change is left alone, so
    * its mtime does not wake the watcher.
    */
  private def writeFile(f: File, lines: Seq[String]): Unit = {
    val bytes = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    if (!(f.exists() && java.util.Arrays.equals(Files.readAllBytes(f.toPath), bytes))) {
      val tmp = File.createTempFile(f.getName, ".tmp", configDir)
      Files.write(tmp.toPath, bytes)
      Files.move(tmp.toPath, f.toPath, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  override def load(): (Seq[ConnectionEntity], Seq[BrowseExclusionFolder]) = {
    import spark.implicits._
    val entLines = readFile(entitiesFile)
    val ents =
      if (entLines.isEmpty) Seq.empty[ConnectionEntity]
      else spark.read.schema(StoredEntitySchema).option("mode", "FAILFAST")
        .json(spark.createDataset(entLines))
        .withColumn("encryptedPassword", unbase64(col("encryptedPassword")))
        .as[ConnectionEntity].collect().toSeq
    val fldLines = readFile(foldersFile)
    val flds =
      if (fldLines.isEmpty) Seq.empty[BrowseExclusionFolder]
      else spark.read.schema(FolderSchema).option("mode", "FAILFAST")
        .json(spark.createDataset(fldLines))
        .as[BrowseExclusionFolder].collect().toSeq
    (ents, flds)
  }

  override def replaceAll(ents: Seq[ConnectionEntity],
                          flds: Seq[BrowseExclusionFolder]): Unit = {
    import spark.implicits._
    // serialize both before writing either: the Spark jobs take most of
    // a second, and a watcher polling between two writes relaunches twice
    val entLines = spark.createDataset(ents).toDF()
      .withColumn("encryptedPassword", base64(col("encryptedPassword")))
      .orderBy("id").toJSON.collect().toSeq
    val fldLines = spark.createDataset(flds).toDF().orderBy("id").toJSON.collect().toSeq
    writeFile(entitiesFile, entLines)
    writeFile(foldersFile, fldLines)
  }
}

object FileConfigStore {
  /** Entity rows as stored on disk (binary password base64-rendered). */
  private[control] val StoredEntitySchema = StructType(Seq(
    StructField("id", IntegerType), StructField("url", StringType),
    StructField("username", StringType),
    StructField("encryptedPassword", StringType),
    StructField("timeoutMs", IntegerType), StructField("maxSearch", IntegerType)))

  private[control] val FolderSchema = StructType(Seq(
    StructField("id", LongType), StructField("opcClientConnectionId", IntegerType),
    StructField("exclusionFolder", StringType)))
}

/** The EF tables in a live database. `connect` must mint fresh
  * connections (the JdbcUpsert factory convention — serializable state
  * only). When `reloadMarker` is set, every committed mutation touches
  * that `*.json` file so a ConfigReload watcher on its directory still
  * restarts the pipeline — the reference couples EF writes to
  * `ReloadPolling()` the same way (`Controllers/ClientController.cs:62`).
  */
final class JdbcConfigStore(connect: () => Connection,
                            reloadMarker: Option[File] = None,
                            dialect: JdbcConfigStore.Dialect = JdbcConfigStore.Derby)
    extends ConfigStore {
  import JdbcConfigStore._

  bootstrap(connect, dialect)

  private def withTxn[A](body: Connection => A): A = {
    val conn = connect()
    try {
      conn.setAutoCommit(false)
      val out = body(conn)
      conn.commit()
      out
    } catch {
      case e: Throwable =>
        try conn.rollback() catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    } finally conn.close()
  }

  override def load(): (Seq[ConnectionEntity], Seq[BrowseExclusionFolder]) =
    withTxn { conn =>
      val ents = Seq.newBuilder[ConnectionEntity]
      val st1 = conn.createStatement()
      try {
        val rs = st1.executeQuery(
          s"SELECT id, url, username, encrypted_password, timeout_ms, max_search FROM $ConnTable ORDER BY id")
        while (rs.next()) ents += ConnectionEntity(rs.getInt(1), rs.getString(2),
          rs.getString(3), rs.getBytes(4), rs.getInt(5), rs.getInt(6))
      } finally st1.close()
      val flds = Seq.newBuilder[BrowseExclusionFolder]
      val st2 = conn.createStatement()
      try {
        val rs = st2.executeQuery(
          s"SELECT id, opc_client_connection_id, exclusion_folder FROM $FolderTable ORDER BY id")
        while (rs.next()) flds += BrowseExclusionFolder(rs.getLong(1), rs.getInt(2), rs.getString(3))
      } finally st2.close()
      (ents.result(), flds.result())
    }

  override def replaceAll(ents: Seq[ConnectionEntity],
                          flds: Seq[BrowseExclusionFolder]): Unit = {
    withTxn { conn =>
      // deleting the parents is enough — the child FK cascades, which is
      // exactly the EF snapshot's DeleteBehavior.Cascade
      val del = conn.createStatement()
      try del.executeUpdate(s"DELETE FROM $ConnTable") finally del.close()
      val insE = conn.prepareStatement(
        s"INSERT INTO $ConnTable (id, url, username, encrypted_password, timeout_ms, max_search) VALUES (?, ?, ?, ?, ?, ?)")
      try {
        ents.foreach { e =>
          insE.setInt(1, e.id); insE.setString(2, e.url); insE.setString(3, e.username)
          insE.setBytes(4, e.encryptedPassword)
          insE.setInt(5, e.timeoutMs); insE.setInt(6, e.maxSearch)
          insE.addBatch()
        }
        insE.executeBatch()
      } finally insE.close()
      val insF = conn.prepareStatement(
        s"INSERT INTO $FolderTable (id, opc_client_connection_id, exclusion_folder) VALUES (?, ?, ?)")
      try {
        flds.foreach { f =>
          insF.setLong(1, f.id); insF.setInt(2, f.opcClientConnectionId)
          insF.setString(3, f.exclusionFolder)
          insF.addBatch()
        }
        insF.executeBatch()
      } finally insF.close()
    }
    // only after COMMIT: a watcher restart must read the new rows
    reloadMarker.foreach { f =>
      Files.write(f.toPath,
        System.nanoTime().toString.getBytes(StandardCharsets.UTF_8))
    }
  }
}

object JdbcConfigStore {
  val ConnTable = "opc_client_connections"
  val FolderTable = "browse_exclusion_folders"

  /** SQL dialect knob. The schema is ANSI except the binary column —
    * Derby spells it BLOB, Postgres BYTEA — and each engine reports a
    * different SQLState for "table already exists". The live spec runs
    * Derby (embedded, zero-install); [[Postgres]] makes the store
    * drop-in for the reference's actual deployment
    * (`Data/ApplicationDbContext.cs:12-13` — Npgsql provider).
    */
  sealed trait Dialect {
    def binaryType: String
    /** SQLStates meaning "table already exists" — the bootstrap races
      * a concurrent bootstrap between probe and DDL, so these are
      * still swallowed.
      */
    def tableExistsStates: Set[String]
  }
  case object Derby extends Dialect {
    val binaryType = "BLOB"
    val tableExistsStates: Set[String] = Set("X0Y32")
  }
  case object Postgres extends Dialect {
    val binaryType = "BYTEA"
    val tableExistsStates: Set[String] = Set("42P07")
  }

  /** DDL mirroring the EF migrations snapshot
    * (`Migrations/ApplicationDbContextModelSnapshot.cs:24-93`).
    */
  def createConnTableSql(dialect: Dialect): String =
    s"""CREATE TABLE $ConnTable (
       |  id INT NOT NULL PRIMARY KEY,
       |  url VARCHAR(512) NOT NULL,
       |  username VARCHAR(256) NOT NULL,
       |  encrypted_password ${dialect.binaryType} NOT NULL,
       |  timeout_ms INT NOT NULL,
       |  max_search INT NOT NULL
       |)""".stripMargin

  def createFolderTableSql(dialect: Dialect): String =
    s"""CREATE TABLE $FolderTable (
       |  id BIGINT NOT NULL PRIMARY KEY,
       |  opc_client_connection_id INT NOT NULL
       |    REFERENCES $ConnTable (id) ON DELETE CASCADE,
       |  exclusion_folder VARCHAR(512) NOT NULL
       |)""".stripMargin

  val CreateConnTableSql: String = createConnTableSql(Derby)
  val CreateFolderTableSql: String = createFolderTableSql(Derby)

  /** Dialect-neutral existence check via JDBC metadata. Unquoted
    * identifiers fold to UPPER in Derby and lower in Postgres, so both
    * foldings are probed.
    */
  def tableExists(conn: Connection, table: String): Boolean = {
    val md = conn.getMetaData
    Seq(table.toUpperCase, table.toLowerCase).distinct.exists { t =>
      val rs = md.getTables(null, null, t, Array("TABLE"))
      try rs.next() finally rs.close()
    }
  }

  /** Create-if-missing — the S6 existence probe. The primary check is
    * the DatabaseMetaData probe (dialect-neutral, so re-instantiating
    * against an existing schema works on any engine); the dialect's
    * already-exists SQLState is still swallowed to close the
    * probe→DDL race against a concurrent bootstrap.
    */
  def bootstrap(connect: () => Connection, dialect: Dialect = Derby): Unit = {
    val conn = connect()
    try {
      val ddls = Seq(ConnTable -> createConnTableSql(dialect),
        FolderTable -> createFolderTableSql(dialect))
      for ((table, ddl) <- ddls if !tableExists(conn, table)) {
        val st = conn.createStatement()
        try st.execute(ddl)
        catch {
          case e: java.sql.SQLException
              if dialect.tableExistsStates.contains(e.getSQLState) => ()
        }
        finally st.close()
      }
    } finally conn.close()
  }
}
