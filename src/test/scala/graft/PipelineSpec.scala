package graft

import java.nio.file.{Files, Path}
import java.sql.Date
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Golden end-to-end test of the batch pipeline (SURVEY.md §5 item 5):
  * fixture CSVs with a known valid/invalid mix → all four output tables.
  */
class PipelineSpec extends SparkSpec with BeforeAndAfterAll {

  private var inDir: Path = _
  private var outDir: Path = _

  private val header = operators.Layout.validColumns.mkString(",")
  private val reportA = Seq(
    header,
    "alice@example.com,x,-,-,01/02/2024 10:00,02/02/2024 11:30,3,0,02/02/2024 11:31,2,0,http://a,1.2.3.4,Chrome,Linux",
    "bob@example.com,y,-,-,05/02/2024 09:15,,0,0,,0,0,-,-,-,-",
    "notanemail,z,-,-,01/02/2024 10:00,,1,0,,0,0,-,-,-,-",
    "carol@example.com,w,-,-,99/99/2024 10:00,,1,0,,0,0,-,-,-,-",
    "alice@example.com,x,-,-,10/02/2024 08:00,,1,0,,0,0,-,-,-,-")
  private val reportB = Seq(
    header,
    "dave@example.com,q,-,-,11/03/2024 14:00,,2,1,,1,0,http://d,5.6.7.8,Firefox,Mac",
    "alice@example.com,x,-,-,12/03/2024 16:45,,1,0,,0,0,-,-,-,-")

  override def beforeAll(): Unit = {
    inDir = Files.createTempDirectory("graft_in")
    outDir = Files.createTempDirectory("graft_out")
    Files.write(inDir.resolve("report_a.txt"), reportA.mkString("\n").getBytes)
  }

  test("run 1: single file produces all four tables with expected contents") {
    val s = Pipeline.runBatch(spark, inDir.toString, outDir.toString, Date.valueOf("2024-02-15"))
    assert(s == Pipeline.RunSummary(1, 3, 2))

    val vis = Pipeline.currentVisitantes(spark, outDir.toString).get
      .orderBy("email").collect()
    assert(vis.map(_.getString(0)).toSeq == Seq("alice@example.com", "bob@example.com"))
    assert(vis(0).getInt(3) == 2) // alice visitasTotales
    assert(vis(0).getDate(1).toString == "2024-02-01" && vis(0).getDate(2).toString == "2024-02-10")

    // nombreArchivo is a partition column → moves to the end on read; select by name.
    val err = spark.read.parquet(s"$outDir/errores")
      .select("email", "tipoError", "nombreArchivo").orderBy("email").collect()
    assert(err.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("carol@example.com", "Fecha envio"), ("notanemail", "Email")))

    val est = spark.read.parquet(s"$outDir/estadisticas")
    assert(est.count() == 3)
    assert(est.filter(col("email") === "bob@example.com").head().isNullAt(
      est.columns.indexOf("opens"))) // "0" normalized to null before cast

    val bit = spark.read.parquet(s"$outDir/bitacora").collect()
    assert(bit.length == 1 && bit(0).getAs[String]("estatus") == "Completado con errores")
  }

  test("run 2: new file merges; already-processed file is skipped (ledger)") {
    Files.write(inDir.resolve("report_b.txt"), reportB.mkString("\n").getBytes)
    val s = Pipeline.runBatch(spark, inDir.toString, outDir.toString, Date.valueOf("2024-03-20"))
    assert(s.files == 1 && s.okRows == 2 && s.errRows == 0) // only report_b processed

    val vis = Pipeline.currentVisitantes(spark, outDir.toString).get
      .orderBy("email").collect()
    assert(vis.map(_.getString(0)).toSeq ==
      Seq("alice@example.com", "bob@example.com", "dave@example.com"))
    val alice = vis(0)
    assert(alice.getInt(3) == 3)                          // 2 + 1, no double count
    assert(alice.getDate(1).toString == "2024-02-01")     // first visit kept
    assert(alice.getDate(2).toString == "2024-03-12")     // last visit advanced
    assert(alice.getInt(5) == 1)                          // month rollover reset

    val bit = spark.read.parquet(s"$outDir/bitacora").orderBy("fechaProceso").collect()
    assert(bit.length == 2)
    assert(bit(1).getAs[String]("nombreArchivo") == "report_b.txt")
  }

  test("run 3: nothing new → no-op, visitantes unchanged") {
    val before = Pipeline.currentVisitantes(spark, outDir.toString).get.collect().toSet
    val s = Pipeline.runBatch(spark, inDir.toString, outDir.toString, Date.valueOf("2024-03-21"))
    assert(s == Pipeline.RunSummary(0, 0, 0))
    val after = Pipeline.currentVisitantes(spark, outDir.toString).get.collect().toSet
    assert(before == after)
  }

  test("run 4: wrong-header file is quarantined (Fallido ledger row), never retried") {
    Files.write(inDir.resolve("report_c.txt"),
      "email,wrong,columns\nx@y.com,1,2".getBytes)
    val s = Pipeline.runBatch(spark, inDir.toString, outDir.toString, Date.valueOf("2024-03-22"))
    assert(s == Pipeline.RunSummary(1, 0, 0)) // counted, zero rows processed
    val bit = spark.read.parquet(s"$outDir/bitacora")
      .filter(col("nombreArchivo") === "report_c.txt").collect()
    assert(bit.length == 1 && bit(0).getAs[String]("estatus") == "Fallido")
    // estadisticas untouched by the garbage file
    assert(spark.read.parquet(s"$outDir/estadisticas")
      .filter(col("email") === "x@y.com").isEmpty)
    // next run: quarantined file stays skipped
    val s2 = Pipeline.runBatch(spark, inDir.toString, outDir.toString, Date.valueOf("2024-03-23"))
    assert(s2 == Pipeline.RunSummary(0, 0, 0))
  }

  test("run 5: header-only (zero-row) file gets a ledger row and never re-enters") {
    Files.write(inDir.resolve("report_d.txt"), (header + "\n").getBytes)
    val s = Pipeline.runBatch(spark, inDir.toString, outDir.toString, Date.valueOf("2024-03-24"))
    assert(s == Pipeline.RunSummary(1, 0, 0))
    val bit = spark.read.parquet(s"$outDir/bitacora")
      .filter(col("nombreArchivo") === "report_d.txt").collect()
    assert(bit.length == 1 && bit(0).getAs[String]("estatus") == "Completado")
    assert(bit(0).getAs[Long]("registrosExitosos") == 0L)
    // the ledger row marks it processed: the next run does not re-read it
    val s2 = Pipeline.runBatch(spark, inDir.toString, outDir.toString, Date.valueOf("2024-03-25"))
    assert(s2 == Pipeline.RunSummary(0, 0, 0))
  }

  test("run 6: version GC keeps last N visitantes versions, _CURRENT always readable") {
    def versions(): Seq[String] = {
      val s = Files.list(outDir.resolve("visitantes"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.matches("v=\\d+")).toSeq.sortBy(_.stripPrefix("v=").toInt)
      } finally s.close()
    }
    assert(versions() == Seq("v=1", "v=2")) // runs 1+2 (3-5 wrote no data)
    // two more data batches: v=1 falls outside current + 2 prior and is
    // pruned, the pointer target survives, the table stays readable and correct
    for ((name, day) <- Seq("report_e.txt" -> "2024-04-01", "report_f.txt" -> "2024-04-02")) {
      Files.write(inDir.resolve(name),
        (header + "\n" + s"eve@example.com,e,-,-,01/04/2024 09:00,,1,0,,0,0,-,-,-,-").getBytes)
      Pipeline.runBatch(spark, inDir.toString, outDir.toString, Date.valueOf(day))
    }
    val current = Files.readString(outDir.resolve("visitantes").resolve("_CURRENT")).trim
    assert(current == "v=4")
    assert(versions() == Seq("v=2", "v=3", "v=4"), s"versions=${versions()}")
    val vis = Pipeline.currentVisitantes(spark, outDir.toString).get
    assert(vis.filter(col("email") === "eve@example.com").head().getInt(3) == 2)
    assert(vis.count() == 4) // alice, bob, dave, eve
  }

  test("a file: URI outDir keeps its ledger and pointer on that filesystem") {
    // every state probe must go through the path's Hadoop filesystem: a
    // java.nio probe treats "file:/..." as a RELATIVE path, misses the
    // bitacora the Spark writes created, re-admits the ledgered file and
    // double-counts visitantes, and drops a stray "file:" tree into the
    // working directory
    val in2 = Files.createTempDirectory("graft_uri_in")
    val out2 = Files.createTempDirectory("graft_uri_out")
    Files.write(in2.resolve("report_a.txt"), reportA.mkString("\n").getBytes)
    val uri = out2.toUri.toString.stripSuffix("/")
    assert(uri.startsWith("file:"))
    val s1 = Pipeline.runBatch(spark, in2.toString, uri, Date.valueOf("2024-02-15"))
    assert(s1 == Pipeline.RunSummary(1, 3, 2))
    def alice() = Pipeline.currentVisitantes(spark, uri).get
      .filter(col("email") === "alice@example.com").head().getAs[Int]("visitasTotales")
    assert(alice() == 2)
    val s2 = Pipeline.runBatch(spark, in2.toString, uri, Date.valueOf("2024-02-16"))
    assert(s2 == Pipeline.RunSummary(0, 0, 0))
    assert(spark.read.parquet(s"$uri/bitacora").count() == 1)
    assert(alice() == 2)
    assert(!Files.exists(java.nio.file.Paths.get(sys.props("user.dir"), "file:")))
  }

  test("scd history: closed extent byte-untouched across batches, versions correct") {
    // self-contained layout (fresh dirs): two batches through the REAL sink
    // path, asserting the visitantes_scd open/closed write protocol at the
    // Pipeline level — batch 1's closed-extent files must survive batch 2
    // bit for bit (cold history never rewrites), and the dimension's history
    // must be queryable by time.
    val in2 = Files.createTempDirectory("graft_scd_in")
    val out2 = Files.createTempDirectory("graft_scd_out")
    Files.write(in2.resolve("report_a.txt"), reportA.mkString("\n").getBytes)
    Pipeline.runBatch(spark, in2.toString, out2.toString, Date.valueOf("2024-02-15"))

    val closedDir = out2.resolve("visitantes_scd").resolve("closed")
    val openDir = out2.resolve("visitantes_scd").resolve("open")
    def closedFiles() = closedDir.toFile.listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = closedFiles() // batch 1: all first-seen, closed extent empty parts
    assert(spark.read.parquet(openDir.toString).count() == 2) // alice, bob open

    Files.write(in2.resolve("report_b.txt"), reportB.mkString("\n").getBytes)
    Pipeline.runBatch(spark, in2.toString, out2.toString, Date.valueOf("2024-03-20"))

    // batch-1 closed files byte-untouched after batch 2's append
    val after = closedFiles()
    before.foreach { case (name, mtime) =>
      assert(after.get(name).contains(mtime), s"closed file $name rewritten")
    }

    // open slice: alice's NEW state, bob untouched (not in batch 2's delta),
    // dave first-seen — exactly one open row per key
    val open = spark.read.parquet(openDir.toString)
    assert(open.select("email").orderBy("email").collect().map(_.getString(0)).toSeq ==
      Seq("alice@example.com", "bob@example.com", "dave@example.com"))
    assert(open.filter(col("email") === "alice@example.com")
      .head().getAs[Int]("visitasTotales") == 3)
    assert(open.filter(col("valid_to").isNotNull).count() == 0)

    // closed extent: alice's batch-1 state, interval [2024-02-15, 2024-03-20)
    val closed = spark.read.parquet(closedDir.toString).collect()
    assert(closed.length == 1)
    assert(closed(0).getAs[String]("email") == "alice@example.com" &&
      closed(0).getAs[Int]("visitasTotales") == 2 &&
      closed(0).getAs[Date]("valid_from").toString == "2024-02-15" &&
      closed(0).getAs[Date]("valid_to").toString == "2024-03-20")

    // the time-travel contract: BOTH extents read as ONE dimension — the
    // DATE effCol must give type-identical valid_from/valid_to in open and
    // closed (a hardcoded timestamp null there once made this union fail)
    val dim = spark.read.parquet(openDir.toString, closedDir.toString)
    assert(dim.count() == 4)
    assert(dim.schema("valid_to").dataType ==
      org.apache.spark.sql.types.DateType)
  }
}

/** The reference's literal sink family (MySQL append loaders + staging
  * replace) exercised end-to-end against embedded Derby — the JDBC engine on
  * Spark's own classpath.
  */
class JdbcSinkSpec extends SparkSpec with BeforeAndAfterAll {
  private var inDir: Path = _
  private var outDir: Path = _
  private var sink: SinkMode.Jdbc = _

  private val header = operators.Layout.validColumns.mkString(",")

  override def beforeAll(): Unit = {
    inDir = Files.createTempDirectory("graft_jdbc_in")
    outDir = Files.createTempDirectory("graft_jdbc_out") // scratch staging only
    sink = SinkMode.Jdbc(s"jdbc:derby:${outDir.resolve("db")};create=true")
    Files.write(inDir.resolve("report_a.txt"), Seq(
      header,
      "alice@example.com,x,-,-,01/02/2024 10:00,,2,0,,1,0,-,-,-,-",
      "notanemail,z,-,-,01/02/2024 10:00,,1,0,,0,0,-,-,-,-").mkString("\n").getBytes)
  }

  test("jdbc run 1: all four relations land in Derby tables") {
    val s = Pipeline.runBatch(spark, inDir.toString, outDir.toString,
      Date.valueOf("2024-02-15"), sink = sink)
    assert(s == Pipeline.RunSummary(1, 1, 1))
    val vis = Pipeline.currentVisitantes(spark, outDir.toString, sink).get.collect()
    assert(vis.length == 1 && vis(0).getString(0) == "alice@example.com")
    val url = sink.url
    assert(spark.read.jdbc(url, "estadisticas", new java.util.Properties).count() == 1)
    val err = spark.read.jdbc(url, "errores", new java.util.Properties).collect()
    assert(err.length == 1 && err(0).getAs[String]("tipoError") == "Email")
    val bit = spark.read.jdbc(url, "bitacora", new java.util.Properties).collect()
    assert(bit.length == 1 && bit(0).getAs[String]("estatus") == "Completado con errores")
  }

  test("jdbc run 2: merge via staging replace; ledger skips processed file; appends accumulate") {
    Files.write(inDir.resolve("report_b.txt"), Seq(
      header,
      "alice@example.com,x,-,-,12/03/2024 16:45,,1,0,,0,0,-,-,-,-",
      "dave@example.com,q,-,-,11/03/2024 14:00,,2,1,,1,0,-,-,-,-").mkString("\n").getBytes)
    val s = Pipeline.runBatch(spark, inDir.toString, outDir.toString,
      Date.valueOf("2024-03-20"), sink = sink)
    assert(s.files == 1 && s.okRows == 2 && s.errRows == 0) // report_a skipped
    val vis = Pipeline.currentVisitantes(spark, outDir.toString, sink).get
      .orderBy("email").collect()
    assert(vis.map(_.getString(0)).toSeq == Seq("alice@example.com", "dave@example.com"))
    assert(vis(0).getInt(3) == 2) // alice merged: 1 + 1 visits, no double count
    // append sinks accumulate across runs (rerun-safety = the ledger gate)
    val url = sink.url
    assert(spark.read.jdbc(url, "estadisticas", new java.util.Properties).count() == 3)
    assert(spark.read.jdbc(url, "bitacora", new java.util.Properties).count() == 2)
    // the staging swap left no intermediate tables behind
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val names = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(3).toLowerCase).toSet
      rs.close()
      assert(!names.contains("visitantes_staging") && !names.contains("visitantes_old"), names)
    } finally conn.close()
  }
}

/** [[JdbcReplace.Upsert]] — the reference's stated `ON DUPLICATE KEY UPDATE`
  * intent behind its broken MERGE (README.md:92) — statement generation per
  * dialect, plus the full pipeline wired through Derby's standard
  * `MERGE INTO` equivalent.
  */
class JdbcUpsertSpec extends SparkSpec with BeforeAndAfterAll {
  private var inDir: Path = _
  private var outDir: Path = _
  private var sink: SinkMode.Jdbc = _

  private val header = operators.Layout.validColumns.mkString(",")

  override def beforeAll(): Unit = {
    inDir = Files.createTempDirectory("graft_ups_in")
    outDir = Files.createTempDirectory("graft_ups_out")
    sink = SinkMode.Jdbc(s"jdbc:derby:${outDir.resolve("db")};create=true",
      replace = JdbcReplace.Upsert)
    Files.write(inDir.resolve("report_a.txt"), Seq(
      header,
      "alice@example.com,x,-,-,01/02/2024 10:00,,2,0,,1,0,-,-,-,-").mkString("\n").getBytes)
  }

  test("upsert statement generation is dialect-gated, quoted, loud on unknowns") {
    val cols = Seq("email", "visitasTotales", "fechaUltimaVisita")
    val my = Pipeline.upsertStatement("jdbc:mysql://h/db", "visitantes", "email",
      cols, "visitantes_upsert_src")
    assert(my ==
      "INSERT INTO visitantes (`email`, `visitasTotales`, `fechaUltimaVisita`) " +
        "SELECT `email`, `visitasTotales`, `fechaUltimaVisita` FROM visitantes_upsert_src " +
        "ON DUPLICATE KEY UPDATE `visitasTotales` = VALUES(`visitasTotales`), " +
        "`fechaUltimaVisita` = VALUES(`fechaUltimaVisita`)")
    val de = Pipeline.upsertStatement("jdbc:derby:/x", "visitantes", "email",
      cols, "visitantes_upsert_src")
    assert(de.startsWith(
      "MERGE INTO visitantes t USING visitantes_upsert_src s ON t.\"email\" = s.\"email\""))
    assert(de.contains("WHEN MATCHED THEN UPDATE SET \"visitasTotales\" = s.\"visitasTotales\", " +
      "\"fechaUltimaVisita\" = s.\"fechaUltimaVisita\""))
    assert(de.contains("WHEN NOT MATCHED THEN INSERT " +
      "(\"email\", \"visitasTotales\", \"fechaUltimaVisita\") " +
      "VALUES (s.\"email\", s.\"visitasTotales\", s.\"fechaUltimaVisita\")"))
    intercept[IllegalArgumentException] {
      Pipeline.upsertStatement("jdbc:postgresql://h/db", "v", "email", cols, "s")
    }
  }

  test("first-batch DDL declares PRIMARY KEY(email) per dialect") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("email", StringType), StructField("visitasTotales", IntegerType),
      StructField("fechaUltimaVisita", TimestampType)))
    val my = Pipeline.createKeyedTableDdl("jdbc:mysql://h/db", "visitantes", schema, "email")
    assert(my == "CREATE TABLE visitantes (`email` VARCHAR(255) NOT NULL, " +
      "`visitasTotales` INT, `fechaUltimaVisita` DATETIME, PRIMARY KEY (`email`))")
    val de = Pipeline.createKeyedTableDdl("jdbc:derby:/x", "visitantes", schema, "email")
    assert(de == "CREATE TABLE visitantes (\"email\" VARCHAR(255) NOT NULL, " +
      "\"visitasTotales\" INT, \"fechaUltimaVisita\" TIMESTAMP, PRIMARY KEY (\"email\"))")
    intercept[IllegalArgumentException] {
      Pipeline.createKeyedTableDdl("jdbc:derby:/x", "v", schema, "nope")
    }
  }

  test("upsert run 1 creates the table; run 2 updates + inserts in place, no staging leftovers") {
    val s1 = Pipeline.runBatch(spark, inDir.toString, outDir.toString,
      Date.valueOf("2024-02-15"), sink = sink)
    assert(s1 == Pipeline.RunSummary(1, 1, 0))

    Files.write(inDir.resolve("report_b.txt"), Seq(
      header,
      "alice@example.com,x,-,-,12/03/2024 16:45,,1,0,,0,0,-,-,-,-",
      "dave@example.com,q,-,-,11/03/2024 14:00,,2,1,,1,0,-,-,-,-").mkString("\n").getBytes)
    val s2 = Pipeline.runBatch(spark, inDir.toString, outDir.toString,
      Date.valueOf("2024-03-20"), sink = sink)
    assert(s2.files == 1 && s2.okRows == 2)

    val vis = Pipeline.currentVisitantes(spark, outDir.toString, sink).get
      .orderBy("email").collect()
    assert(vis.map(_.getString(0)).toSeq == Seq("alice@example.com", "dave@example.com"))
    assert(vis(0).getInt(3) == 2) // alice upserted: 1 + 1 visits
    assert(vis(0).getDate(2).toString == "2024-03-12") // last visit advanced in place

    val conn = java.sql.DriverManager.getConnection(sink.url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val names = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(3).toLowerCase).toSet
      rs.close()
      assert(!names.contains("visitantes_upsert_src"), names)
      assert(!names.contains("visitantes_staging"), names) // upsert path never stages+renames
      // first-batch DDL must have declared the key the upsert statement
      // relies on — a keyless table silently breaks MySQL's ON DUPLICATE KEY
      val pkCols = Seq("visitantes", "VISITANTES").flatMap { t =>
        val pk = conn.getMetaData.getPrimaryKeys(null, null, t)
        try Iterator.continually(pk).takeWhile(_.next()).map(_.getString(4)).toList
        finally pk.close()
      }.toSet
      assert(pkCols == Set("email"), s"primary key columns: $pkCols")
    } finally conn.close()
  }
}
