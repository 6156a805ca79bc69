package graft.ingest

import graft.SparkSpec
import graft.pipeline.ImportJob
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Reference-shaped CSV fixtures (FIXTURES.md §B) generated into a temp
  * tree, exercising S1–S5 + P1–P5 + U1 edge semantics. */
class LoomCsvSpec extends SparkSpec {
  import spark.implicits._

  /** 71-column positional row. */
  private def mkRow(dataTurno: String, tear: String, artigo: String,
                    funcionando: String, parado: String,
                    eficiencia: String = "90"): String =
    (Seq(dataTurno, tear, artigo, "", "G1", "500", eficiencia, funcionando, parado) ++
      Seq.fill(62)("0")).mkString(",")

  private lazy val root: Path = {
    val dir = Files.createTempDirectory("tmsdata")
    def write(rel: String, lines: Seq[String],
              cs: java.nio.charset.Charset = StandardCharsets.UTF_8): Unit = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, lines.mkString("\n").getBytes(cs))
    }
    write("2026-07/daily/2026-07-01.csv", Seq(
      mkRow("2026-07-01.A", "00042", "ART1", "480", "0", eficiencia = "77"),
      mkRow("2026-07-01.B", "00042", "ART1", "470", "10")))
    write("2026-08/daily/2026-08-01.csv", Seq(
      "﻿" + mkRow("2026-08-01.A", "00042", "ART1", "480", "0"), // BOM'd line
      mkRow("2026-08-01.C", "00042", "ART1", "0", "440"),   // desligado
      mkRow("2026-08-01.C", "00043", "ART2", "0", "399"),   // below threshold
      mkRow("2026-08-01.C", "00044", "ART3", "", "440"),    // '' → 0.0 → desligado
      mkRow("2026-08-01.C", "00045", "ART4", "abc", "440"), // unparseable → not desligado
      "too,short",                                          // short-row skip
      mkRow("2026-07-01.A", "00042", "ART1", "999", "0", eficiencia = "88"))) // dup key, later file wins
    write("2026-08/daily/latin.csv",
      Seq(mkRow("2026-08-02.A", "00050", "CAFÉ", "480", "0")),
      StandardCharsets.ISO_8859_1) // É as 0xC9 — invalid UTF-8, decodes under cp1252
    write("2026-08/daily/smart.csv",
      Seq(mkRow("2026-08-03.A", "00052", "\u0093Q\u0094", "480", "0")),
      StandardCharsets.ISO_8859_1) // bytes 0x93/0x94 — cp1252 smart quotes, invalid UTF-8
    write("2026-08/daily/ctrl.csv",
      Seq(mkRow("2026-08-03.B", "00053", "A\u0081B", "480", "0")),
      StandardCharsets.ISO_8859_1) // byte 0x81 — undefined in cp1252 too → latin-1 arm
    write("2026-08/daily/UPPER.CSV",
      Seq(mkRow("2026-08-02.B", "00051", "ART5", "480", "0")))
    write("2026-13-bad/daily/bad.csv",
      Seq(mkRow("2026-13-99.A", "00099", "BAD", "0", "0")))
    dir
  }

  test("S4: recursive discovery picks up .csv and .CSV, all month dirs") {
    val files = LoomCsv.readWithFallback(spark, root.toString)
      .select(LoomCsv.sourceFileCol).distinct().as[String].collect()
    assert(files.length === 7)
    assert(files.exists(_.endsWith("UPPER.CSV")))
  }

  test("S2: charset fallback recovers non-utf8 accented text") {
    val df = LoomCsv.normalize(LoomCsv.readWithFallback(spark, root.toString))
    val artigos = df.select("Artigo").as[String].collect().toSet
    assert(artigos.contains("CAFÉ"), s"got $artigos")
    assert(!artigos.exists(_.contains("�")), s"got $artigos")
  }

  test("S2: cp1252 arm decodes smart quotes; latin-1 terminal arm catches 0x81") {
    val df = LoomCsv.normalize(LoomCsv.readWithFallback(spark, root.toString))
    val artigos = df.select("Artigo").as[String].collect().toSet
    // byte 0x93/0x94 must surface as the cp1252 smart quotes, not the
    // latin-1 C1 control chars (U+0093/U+0094) or U+FFFD
    assert(artigos.contains("\u201cQ\u201d"), s"got $artigos")
    // byte 0x81 is undefined even in cp1252 → the latin-1 arm keeps it
    // as the C1 control char rather than dropping the row
    assert(artigos.contains("A\u0081B"), s"got $artigos")
  }

  test("S2: clean trees take the utf-8 path and fallback scans add no rows") {
    val clean = Files.createTempDirectory("tmsclean")
    Files.createDirectories(clean.resolve("2026-07/daily"))
    Files.write(clean.resolve("2026-07/daily/ok.csv"),
      Seq(mkRow("2026-07-02.A", "00060", "ÁGUA", "480", "0"))
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
    val df = LoomCsv.readWithFallback(spark, clean.toString)
    assert(df.count() === 1)
    assert(LoomCsv.normalize(df).select("Artigo").as[String].head() === "ÁGUA")
  }

  /** A one-file tree holding `bytes`; returns its normalized import. */
  private def readOne(bytes: Array[Byte]): Seq[org.apache.spark.sql.Row] = {
    val dir = Files.createTempDirectory("tmsedge")
    Files.createDirectories(dir.resolve("2026-07/daily"))
    Files.write(dir.resolve("2026-07/daily/f.csv"), bytes)
    LoomCsv.normalize(LoomCsv.readWithFallback(spark, dir.toString))
      .orderBy("DataTurno").collect().toSeq
  }

  test("S2: a valid utf-8 file spelling U+FFFD stays utf-8") {
    val rows = readOne(mkRow("2026-07-02.A", "00061", "Á\uFFFDGUA", "480", "0")
      .getBytes(StandardCharsets.UTF_8))
    assert(rows.map(_.getAs[String]("Artigo")) === Seq("Á\uFFFDGUA"))
  }

  test("S2: the encoding is decided per whole file, past the 71 schema columns too") {
    // the only invalid utf-8 byte (0xC9) sits in a 72nd cell the schema
    // never reads; the file still takes the cp1252 arm, so its utf-8 É
    // (0xC3 0x89) reads as cp1252 'Ã‰'
    val bytes = (mkRow("2026-07-02.A", "00062", "ÉGUA", "480", "0") + ",")
      .getBytes(StandardCharsets.UTF_8) :+ 0xc9.toByte
    assert(readOne(bytes).map(_.getAs[String]("Artigo")) === Seq("Ã‰GUA"))
  }

  test("S1+S3: CRLF and CR line ends, blank and whitespace-only lines, file BOM, empty file") {
    val rows = readOne(("\uFEFF" +
      Seq(mkRow("2026-07-02.A", "00063", "ÁGUA", "480", "0"), "", " \t ",
        mkRow("2026-07-02.B", "00063", "ART", "480", "0")).mkString("\r\n") + "\r" +
      mkRow("2026-07-02.C", "00063", "ART", "480", "0") + "\r\n")
      .getBytes(StandardCharsets.UTF_8))
    assert(rows.map(r => (r.getAs[String]("DataTurno"), r.getAs[String]("Artigo"))) ===
      Seq(("2026-07-02.A", "ÁGUA"), ("2026-07-02.B", "ART"), ("2026-07-02.C", "ART")))
    // the last cell keeps no stray \r
    assert(rows.forall(_.getAs[String]("MinGen16") === "0"))
    assert(readOne(Array.emptyByteArray).isEmpty)
  }

  test("S3+P3: normalize strips BOM and drops short rows") {
    val df = LoomCsv.normalize(LoomCsv.readWithFallback(spark, root.toString))
    val turnos = df.select("DataTurno").as[String].collect()
    assert(turnos.forall(!_.startsWith("﻿")))
    assert(!turnos.contains("too"))
  }

  test("P3: the short-row skip and the scrub agree on BOM, space and tab cells") {
    val bom = "\uFEFF"
    val edges = Seq(bom, "   ", bom + "  ", " " + bom, "\t", bom + " x ")
    val key = Seq("2026-09-01.A", "00060", "ART9")
    // each edge cell in each of the three key positions; Rpm tags the row
    val lines = for ((e, i) <- edges.zipWithIndex; p <- 0 until 3)
      yield (key.updated(p, e) ++ Seq("", "G1", s"${3 * i + p}") ++ Seq.fill(65)("0"))
        .mkString(",")
    // a plain first line, so no edge cell is the file-level BOM
    val out = readOne((mkRow("2026-09-01.B", "00061", "ART9", "480", "0") +: lines)
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
      .filter(_.getAs[String]("Rpm") != "500")
      .map(r => r.getAs[String]("Rpm").toInt ->
        Seq("DataTurno", "Tear", "Artigo").map(r.getAs[String]))
      .toMap
    // a scrubbed cell is kept exactly when something other than spaces
    // is left after one leading BOM
    val kept = Map(3 -> bom, 4 -> "\t", 5 -> "x")
    assert(out.keySet === kept.keySet.flatMap(i => (0 until 3).map(3 * i + _)))
    for ((i, v) <- kept; p <- 0 until 3) assert(out(3 * i + p) === key.updated(p, v))
  }

  test("importCsvTree: the BOM scrub runs once per cell") {
    val plan = ImportJob.importCsvTree(spark, "fixtures/loom",
      Some(Seq(("2024-01-01.C", "00001")).toDF("DataTurno", "Tear")))
      .queryExecution.executedPlan
    val scrubs = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(plan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect {
        case r: org.apache.spark.sql.catalyst.expressions.RegExpReplace => r }))
    assert(scrubs.size === LoomSchema.columnNames.size, plan)
  }

  test("S5: month-pruned read excludes non-YYYY-MM dirs and tags partitions") {
    val df = LoomCsv.readMonths(spark, root.toString, Seq("2026-07", "2026-08"))
    val months = df.select("month").distinct().as[String].collect().toSet
    assert(months === Set("2026-07", "2026-08"))
    intercept[IllegalArgumentException] {
      LoomCsv.readMonths(spark, root.toString, Seq("2026-13-bad"))
    }
  }

  test("S5: month-pruned read decodes each file as the import does (cp1252 under a month dir)") {
    val df = LoomCsv.readMonths(spark, root.toString, Seq("2026-08"))
    val artigos = df.filter(col("month") === "2026-08" && col("Artigo").isNotNull)
      .select("Artigo").as[String].collect().toSet
    assert(artigos.contains("CAFÉ") && artigos.contains("\u201cQ\u201d")
      && artigos.contains("A\u0081B"), s"got $artigos")
    assert(!artigos.exists(_.contains("\uFFFD")), s"got $artigos")
    // the same rows as the whole-tree import read of that directory
    val viaImport = LoomCsv.readWithFallback(spark, root.toString)
      .filter(col(LoomCsv.sourceFileCol).contains("/2026-08/daily/"))
    assert(df.drop("month", "dataset_type").exceptAll(viaImport).isEmpty &&
      viaImport.exceptAll(df.drop("month", "dataset_type")).isEmpty)
    assert(df.select("dataset_type").distinct().as[String].collect() === Array("daily"))
  }

  test("typed view: float(''|null or 0) → 0.0, shift key decomposed") {
    val df = LoomCsv.typedView(LoomCsv.normalize(LoomCsv.readWithFallback(spark, root.toString)))
    val r = df.filter(col("DataTurno") === "2026-08-01.C" && col("Tear") === "00044")
      .select("Funcionando", "shift", "shift_date").head()
    assert(r.getDouble(0) === 0.0)
    assert(r.getString(1) === "C")
    assert(r.getDate(2).toString === "2026-08-01")
  }

  test("import slice: LWW on (DataTurno, Tear) — later file wins; idempotent") {
    val out = ImportJob.importCsvTree(spark, root.toString, sinkKeys = None)
    val dup = out.filter(col("DataTurno") === "2026-07-01.A" && col("Tear") === "00042")
    assert(dup.count() === 1)
    assert(dup.select("Eficiencia").as[String].head() === "88")
    assert(out.count() ===
      out.select("DataTurno", "Tear").distinct().count())
  }

  test("P4+P5 gate: desligado rows already in sink are dropped, others kept") {
    val sink = Seq(("2026-08-01.C", "00042"), ("2026-08-01.C", "00043"))
      .toDF("DataTurno", "Tear")
    val gated = ImportJob.importCsvTree(spark, root.toString, Some(sink),
      applyPoweredOffGate = true)
    val keys = gated.select("DataTurno", "Tear").as[(String, String)].collect().toSet
    assert(!keys.contains(("2026-08-01.C", "00042"))) // desligado + in sink → dropped
    assert(keys.contains(("2026-08-01.C", "00043")))  // in sink but NOT desligado → kept
    assert(keys.contains(("2026-08-01.C", "00044")))  // desligado, not in sink → kept
    val ungated = ImportJob.importCsvTree(spark, root.toString, Some(sink),
      applyPoweredOffGate = false)
    assert(ungated.filter(col("DataTurno") === "2026-08-01.C" && col("Tear") === "00042")
      .count() === 1) // main_05 semantics: plain upsert keeps it
  }

  test("importCsvTree: building starts no job and pins nothing; the plan scans the tree once") {
    val sink = Seq(("2026-08-01.C", "00042")).toDF("DataTurno", "Tear")
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      val pinned = sc.getPersistentRDDs.keySet
      sc.setJobGroup("loom-build", "build")
      val plan = try ImportJob.importCsvTree(spark, root.toString, Some(sink))
          .queryExecution.executedPlan
        finally sc.clearJobGroup()
      assert(sc.getPersistentRDDs.keySet === pinned)
      // listener events arrive in order: once the sentinel job is seen,
      // every job the build started has been seen too
      sc.setJobGroup("loom-sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("loom-sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("loom-sentinel"))
      assert(!groups.contains("loom-build"), "building the import ran a Spark job")
      val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(plan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.size === 1, plan)
    } finally sc.removeSparkListener(listener)
  }

  test("exportStatus: per-(month, type) file inventory incl. the root forecast.csv; metadata-only scan") {
    val st = LoomCsv.exportStatus(spark, "fixtures/loom")
    val rows = st.collect().map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val byKey = rows.map(r => (r._1, r._2) -> r).toMap
    // 2024-01/daily: loom_a.csv + loom_b.CSV (case-insensitive match,
    // notes.txt excluded); 2024-02/daily: one; 2024-03/daily: one;
    // 2024-01/monthly: skip_me.csv is still a FILE in the inventory
    // (the readers skip it; the status report must not lie about disk)
    assert(byKey(("2024-01", "daily"))._3 === 2L)
    assert(byKey(("2024-02", "daily"))._3 === 1L)
    assert(byKey(("2024-03", "daily"))._3 === 1L)
    assert(byKey(("2024-01", "monthly"))._3 === 1L)
    // the root-level forecast.csv rides its own type row (the
    // reference reads its mtime as last_export_time)
    val f = byKey(("", "forecast"))
    assert(f._3 === 1L && f._4 > 0L && f._5 > 0L)
    rows.foreach { r =>
      assert(r._4 > 0L && r._5 > 0L, s"bytes/mtime present: $r") }
    // metadata-only: the binaryFile scan must prune `content`
    val plan = LoomCsv.exportStatus(spark, "fixtures/loom")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("content"), plan)
  }
}
