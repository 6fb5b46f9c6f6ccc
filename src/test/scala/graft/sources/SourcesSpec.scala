package graft.sources

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.SparkSpec

class SourcesSpec extends SparkSpec {

  test("RestSource zips parallel JSON arrays into rows via the Http seam") {
    val fake = new RestSource.Http {
      override def get(url: String): String =
        """{"datetime": ["2026-01", "2026-02"],
           "actual": [10.5, 11.0], "target": [12.0, 12.5]}"""
    }
    val df = RestSource.solarMonthly(spark, fake, "http://unused")
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got == Set(("2026-01", 10.5, 12.0), ("2026-02", 11.0, 12.5)))
  }

  private def buildXlsx(shared: Seq[String],
                        sheetRows: Seq[(Int, Seq[(String, String, String)])]): Array[Byte] = {
    // cells: (ref, t-attr, v)
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    z.putNextEntry(new ZipEntry("xl/sharedStrings.xml"))
    z.write(("<?xml version=\"1.0\"?><sst>" +
      shared.map(s => s"<si><t>$s</t></si>").mkString + "</sst>").getBytes("UTF-8"))
    z.closeEntry()
    z.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    val rowsXml = sheetRows.map { case (rn, cells) =>
      s"""<row r="$rn">""" + cells.map { case (ref, t, v) =>
        val tAttr = if (t.nonEmpty) s""" t="$t"""" else ""
        s"""<c r="$ref"$tAttr><v>$v</v></c>"""
      }.mkString + "</row>"
    }.mkString
    z.write(s"""<?xml version="1.0"?><worksheet><sheetData>$rowsXml</sheetData></worksheet>""".getBytes("UTF-8"))
    z.closeEntry()
    z.close()
    bos.toByteArray
  }

  test("ExcelSource reads header + rows with shared strings and skipRows") {
    // shared strings: 0=site 1=amount 2=WZS 3=WKS ; row1 is a title to skip
    val xlsx = buildXlsx(
      shared = Seq("site", "amount", "WZS", "WKS", "title"),
      sheetRows = Seq(
        1 -> Seq(("A1", "s", "4")),
        2 -> Seq(("A2", "s", "0"), ("B2", "s", "1")),
        3 -> Seq(("A3", "s", "2"), ("B3", "", "123.5")),
        4 -> Seq(("A4", "s", "3"), ("B4", "", "7"))))
    val df = ExcelSource.read(spark, xlsx, skipRows = 1)
    assert(df.columns.toSeq == Seq("site", "amount"))
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("WZS", "123.5"), ("WKS", "7")))

    val projected = ExcelSource.read(spark, xlsx, skipRows = 1, useCols = Some(Seq("amount")))
    assert(projected.columns.toSeq == Seq("amount"))
  }

  test("ShipmentsEtl: base64 bytes to four year blocks, melted and stamped") {
    import spark.implicits._
    val clock = graft.core.FixedClock(java.time.LocalDate.of(2026, 8, 1))
    // B1 = pic, B2 = version; data starts at row 5; block 0 at A..M,
    // block 1 at O..AA (cols 14..26); row 6 is the 總計 grand-total row
    val xlsx = buildXlsx(
      shared = Seq("pic", "Alice", "version", "S1", "總計"),
      sheetRows = Seq(
        1 -> Seq(("A1", "s", "0"), ("B1", "s", "1")),
        2 -> Seq(("A2", "s", "2"), ("B2", "", "2026")),
        3 -> Seq(("A3", "", "")),
        4 -> Seq(("A4", "", "")),
        5 -> Seq(("A5", "s", "3"), ("B5", "", "10"), ("M5", "", "5"),
          ("O5", "s", "3"), ("P5", "", "20")),
        6 -> Seq(("A6", "s", "4"), ("B6", "", "999"))))
    val got = graft.jobs.ShipmentsEtl.shipments(spark, xlsx, clock)
    // 4 blocks x 12 months for S1 (總計 filtered; blocks 2/3 all-empty rows drop)
    assert(got.count() == 24)
    val amounts = got.select("year", "month", "amount")
      .as[(Int, Int, Double)].collect()
      .map { case (y, m, a) => (y, m) -> a }.toMap
    assert(amounts((2026, 1)) == 10.0 && amounts((2026, 12)) == 5.0 &&
      amounts((2026, 2)) == 0.0)
    assert(amounts((2027, 1)) == 20.0 && amounts((2027, 3)) == 0.0)
    val head = got.select("version", "pic").distinct()
      .as[(String, String)].collect().toSeq
    assert(head == Seq(("2026", "Alice")))
  }

  test("solar source end-to-end: REST JSON to raw rows to staging.solar") {
    import spark.implicits._
    val clock = graft.core.FixedClock(java.time.LocalDate.of(2026, 8, 1))
    val fake = new RestSource.Http {
      override def get(url: String): String =
        """{"datetime": ["2026-1", "2026-02"],
           "actual": [10.0, 11.0], "target": [12.0, 12.5]}"""
    }
    val monthly = RestSource.solarMonthly(spark, fake, "http://unused")
    val raw = graft.jobs.SourceToRaw.solarMonth(monthly, "WTN")
    val gotRaw = raw.select("plant", "category", "amount", "period_start")
      .as[(String, String, Double, java.sql.Date)].collect().toSet
    assert(gotRaw == Set(
      ("WTN", "actual", 10.0, java.sql.Date.valueOf("2026-01-01")),
      ("WTN", "actual", 11.0, java.sql.Date.valueOf("2026-02-01")),
      ("WTN", "target", 12.0, java.sql.Date.valueOf("2026-01-01")),
      ("WTN", "target", 12.5, java.sql.Date.valueOf("2026-02-01"))))
    // the raw frame feeds the staging transform unchanged (solar_etl mini-DAG)
    val staged = graft.jobs.RawToStaging.solar(raw,
      Seq(("WTN-SITE", "WTN")).toDF("site", "plant"), clock)
    val ytm = staged.filter($"category" === "actual")
      .select("site", "ytm_amount").as[(String, Double)].collect().toMap
    assert(ytm("WTN-SITE") == 21.0)
  }

  test("solarRatio and femRatioSolar compute global generation shares") {
    import spark.implicits._
    val clock = graft.core.FixedClock(java.time.LocalDate.of(2026, 8, 1))
    val p = java.sql.Date.valueOf("2026-07-01")
    val renew = Seq(
      ("WZS-1", 30.0, p, "綠色能源", "光伏"),
      ("WZS-3", 10.0, p, "綠色能源", "光伏"),
      ("WZS-9", 99.0, p, "綠色能源", "光伏"), // not a ratio plant
      ("WZS-1", 99.0, p, "綠色能源", "綠電") // wrong category2
    ).toDF("plant", "amount", "period_start", "category1", "category2")
    val ratios = graft.jobs.SourceToRaw.solarRatio(renew, p, clock)
      .select("plant", "ratio").as[(String, Double)].collect().toMap
    assert(ratios == Map("WZS-1" -> 0.75, "WZS-3" -> 0.25))

    val daily = Seq(
      ("PC1", p, 60.0), ("PC1", p, 20.0), ("PC2", p, 20.0)
    ).toDF("plant_code", "datadate", "power")
    val mapping = Seq(("WKS", "WK-1", "PC1"), ("XTRKS", "XTRKS", "PC2"))
      .toDF("site", "plant", "plant_code")
    val fem = graft.jobs.SourceToRaw.femRatioSolar(daily, mapping, p, clock)
      .select("plant", "ratio").as[(String, Double)].collect().toMap
    // global denominator across both sites: WK-1 80/100, XTRKS 20/100
    assert(fem == Map("WK-1" -> 0.8, "XTRKS" -> 0.2))
  }

  test("ExcelSource fills gap cells with empty strings") {
    val xlsx = buildXlsx(
      shared = Seq("a", "b", "c"),
      sheetRows = Seq(
        1 -> Seq(("A1", "s", "0"), ("B1", "s", "1"), ("C1", "s", "2")),
        2 -> Seq(("A2", "", "1"), ("C2", "", "3")))) // B2 missing
    val df = ExcelSource.read(spark, xlsx)
    val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq(("1", "", "3")))
  }
}
