package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every input a workload hands to graft comes
  * from here, so the same seed gives byte-identical inputs; each generator
  * also returns what it knows it planted, which the output checks use as
  * ground truth. */
object Gen {

  def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream)

  // ------------------------------------------------------------- text

  /** Pronounceable vocabulary of 2-3 syllable words, none of which is a
    * language-ID marker word. */
  private val syllables = Seq("ka", "lo", "mi", "ren", "ta", "vo", "sun", "pe",
    "dra", "ko", "li", "mun", "sa", "te", "ri", "no", "gal", "bi", "qua", "zen")

  def vocab(r: SplittableRandom, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val k = 2 + r.nextInt(2)
      seen += (0 until k).map(_ => syllables(r.nextInt(syllables.length))).mkString
    }
    seen.toArray
  }

  /** One word in six of a document is a marker of its language. */
  private val markers = Map(
    "en" -> Seq("the", "and", "of", "is"), "de" -> Seq("der", "und", "ist", "nicht"),
    "es" -> Seq("el", "que", "los", "por"), "fr" -> Seq("et", "les", "des", "est"))
  private val langs = markers.keys.toSeq.sorted

  /** Zipf-like index into a vocabulary of size n. */
  private def zipf(r: SplittableRandom, n: Int): Int =
    math.min(n - 1, (math.pow(n.toDouble, r.nextDouble()) - 1).toInt)

  final case class Doc(id: Long, text: String, lang: String, source: String)

  final case class Corpus(docs: IndexedSeq[Doc], exactCopies: Int,
      nearPairs: Seq[(Long, Long)])

  /** `n` documents of 40-90 words. 2.5 % are exact copies of an earlier
    * document and 2.5 % are copies with one word substituted (Jaccard of
    * their 3-shingle sets ≥ 0.88, so MinHash must find them). */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = rng(seed, 1)
    val words = vocab(rng(seed, 2), 3000)
    val docs = ArrayBuffer[Doc]()
    var exact = 0
    val near = ArrayBuffer[(Long, Long)]()
    for (i <- 0 until n) {
      val id = i.toLong
      val source = s"src${r.nextInt(3)}"
      val kind = if (i < 20) 0 else r.nextInt(20)
      if (kind == 0 || kind >= 2) {
        val lang = langs(r.nextInt(langs.length))
        val len = 40 + r.nextInt(51)
        val ws = (0 until len).map { _ =>
          if (r.nextInt(6) == 0) markers(lang)(r.nextInt(4)) else words(zipf(r, words.length))
        }
        docs += Doc(id, ws.mkString(" ") + ".", lang, source)
      } else {
        val base = docs(r.nextInt(docs.length))
        if (kind == 1 && r.nextBoolean()) {
          exact += 1
          docs += base.copy(id = id, source = source)
        } else {
          val ws = base.text.stripSuffix(".").split(" ")
          val at = 3 + r.nextInt(ws.length - 6)
          ws(at) = "edit" + words(r.nextInt(words.length))
          docs += base.copy(id = id, text = ws.mkString(" ") + ".", source = source)
          near += ((base.id, id))
        }
      }
    }
    Corpus(docs.toIndexedSeq, exact, near.toSeq)
  }

  // -------------------------------------------------------- embeddings

  final case class Vec(id: Long, label: Int, v: Array[Float])

  /** `n` unit vectors of dimension `dim` around `cells` random centroids;
    * 3 % are near-copies (cosine > 0.99) of an earlier vector. */
  def vectors(seed: Long, n: Int, dim: Int = 64, cells: Int = 16): (IndexedSeq[Vec], Seq[(Long, Long)]) = {
    val r = rng(seed, 3)
    def unit(a: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(a.map(x => x * x).sum); a.map(_ / nrm)
    }
    val cents = Array.fill(cells)(unit(Array.fill(dim)(r.nextDouble() * 2 - 1)))
    val out = ArrayBuffer[Vec]()
    val near = ArrayBuffer[(Long, Long)]()
    for (i <- 0 until n) {
      if (i > 10 && r.nextInt(33) == 0) {
        val b = out(r.nextInt(out.length))
        val v = unit(b.v.map(x => x + (r.nextDouble() - 0.5) * 0.002))
        out += Vec(i, b.label, v.map(_.toFloat))
        near += ((b.id, i.toLong))
      } else {
        val c = r.nextInt(cells)
        val v = unit(cents(c).map(x => x + (r.nextDouble() - 0.5) * 0.5))
        out += Vec(i, c, v.map(_.toFloat))
      }
    }
    (out.toIndexedSeq, near.toSeq)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    d / math.sqrt(na * nb)
  }

  // ------------------------------------------------------------ events

  final case class Event(id: Long, tsUs: Long, user: Long, kind: String, value: Double)

  /** `n` events over `users` users within a few hours, emitted out of
    * order (each event is displaced by up to five minutes), with 2 %
    * exact duplicates (same id and time) for the dedup replay. */
  def events(seed: Long, n: Int, users: Int): IndexedSeq[Event] = {
    val r = rng(seed, 4)
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z
    val kinds = Seq("view", "view", "view", "click", "click", "purchase", "error")
    val base = (0 until n).map { i =>
      val ts = t0 + i.toLong * 360000000L / n * 30 + r.nextLong(1000000L)
      Event(i, ts, 1L + zipf(r, users), kinds(r.nextInt(kinds.length)),
        (10 + r.nextInt(50000)) / 100.0)
    }
    val dups = base.filter(_ => r.nextInt(50) == 0)
    (base ++ dups).map(e => (e.tsUs + r.nextLong(300000000L), e)).sortBy(_._1).map(_._2)
  }

  // --------------------------------------------------- ETL drop folder

  val Months: IndexedSeq[String] = (1 to 12).map(m => f"2023-$m%02d-01")

  /** What the generator knows about one drop-folder file. `sums` holds the
    * per-SKU sales total over the good months in cents. */
  final case class EtlFile(name: String, quarantined: Boolean, rows: Int,
      goodMonths: Seq[String], sums: Map[String, Long])

  val SkuHeaders = Seq("SKU", "Article SKU", "Item SKU", "article sku")
  val NameHeaders = Seq("Product", "Product Name", "Item Name", "product name")

  /** The template that goes with the drop folder: a title row above the
    * header, header spellings that vary by file, wide month columns to
    * unpivot and thousands separators to strip. */
  def etlTemplateJson: String = {
    val maps = (SkuHeaders.map(_ -> "article_sku") ++ NameHeaders.map(_ -> "product_name"))
      .map { case (k, v) => s""""$k": "$v"""" }.mkString(", ")
    val cols = (SkuHeaders ++ NameHeaders ++ Months).map(c => s""""$c"""").mkString(", ")
    s"""{"template_version": 3, "source_type": "excel", "skiprows": [0],
       | "header_row": 0, "columns": [$cols], "column_mappings": {$maps}, "provider_name": "acme",
       | "unpivot": true, "var_name": "report_date", "value_name": "sales_amount",
       | "strip_thousands": true, "trim_strings": true}""".stripMargin
  }

  /** Writes `files` messy files into `dir` and returns their ground truth.
    * Every fourth file has 15 % unparseable amount cells, over the 10 %
    * quarantine threshold; the others have about 0.3 %. */
  def etlFolder(seed: Long, dir: Path, files: Int, rows: Int): IndexedSeq[EtlFile] = {
    val r = rng(seed, 5)
    Files.createDirectories(dir)
    (0 until files).map { f =>
      val xlsx = f % 4 == 3
      val name = f"drop_$f%02d." + (if (xlsx) "xlsx" else "csv")
      val badPerMille = if (f % 4 == 1) 150 else 3
      val header = Seq(SkuHeaders(r.nextInt(4)), NameHeaders(r.nextInt(4))) ++ Months
      val skuBase = f * rows / 2
      val sums = scala.collection.mutable.Map[String, Long]()
      val grid = (0 until rows).map { i =>
        val sku = f"SKU-${skuBase + i}%06d"
        val cells = Months.indices.map { m =>
          val cents = 100L + r.nextInt(500000)
          val roll = r.nextInt(1000)
          if (roll < badPerMille) (None, if (roll % 2 == 0) "n/a" else "#REF!")
          else if (roll == 999) (Some(0L), "")
          else {
            val txt = if (cents >= 100000 && r.nextBoolean())
              f"${cents / 100}%,d.${cents % 100}%02d" else f"${cents / 100}.${cents % 100}%02d"
            (Some(cents), txt)
          }
        }
        sums(sku) = cells.map(_._1.getOrElse(0L)).sum
        Seq(sku, s"  product ${skuBase + i} ") ++ cells.map(_._2)
      }
      // spreadsheet exports pad the title row to the table's width
      val title = s"Monthly sales export $f (seed $seed)" +: Seq.fill(header.length - 1)("")
      val path = dir.resolve(name)
      if (xlsx) writeXlsx(path, Seq(title, header) ++ grid)
      else {
        def q(s: String) = if (s.contains(",")) "\"" + s + "\"" else s
        val text = (Seq(title, header) ++ grid).map(_.map(q).mkString(",")).mkString("\n")
        Files.writeString(path, text + "\n")
      }
      EtlFile(name, quarantined = badPerMille > 100, rows, Months, sums.toMap)
    }
  }

  /** Minimal xlsx writer (shared strings, one sheet). Cells that parse as
    * plain numbers are written as numbers, everything else as strings. */
  def writeXlsx(path: Path, grid: Seq[Seq[String]]): Unit = {
    val strings = scala.collection.mutable.LinkedHashMap[String, Int]()
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def colName(i: Int): String =
      if (i < 26) ('A' + i).toChar.toString else colName(i / 26 - 1) + ('A' + i % 26).toChar
    val rowsXml = grid.zipWithIndex.map { case (row, ri) =>
      val cells = row.zipWithIndex.collect { case (v, ci) if v.nonEmpty =>
        val ref = s"${colName(ci)}${ri + 1}"
        if (v.matches("-?[0-9]+(\\.[0-9]+)?")) s"""<c r="$ref"><v>$v</v></c>"""
        else s"""<c r="$ref" t="s"><v>${strings.getOrElseUpdate(v, strings.size)}</v></c>"""
      }
      s"""<row r="${ri + 1}">${cells.mkString}</row>"""
    }.mkString
    val parts = Seq(
      "[Content_Types].xml" -> ("""<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>"""),
      "_rels/.rels" -> ("""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""),
      "xl/workbook.xml" -> ("""<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        """<sheets><sheet name="data" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" -> ("""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
        """<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>"""),
      "xl/worksheets/sheet1.xml" -> ("""<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        s"""<sheetData>$rowsXml</sheetData></worksheet>"""))
    val shared = """<?xml version="1.0" encoding="UTF-8"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      strings.keys.map(s => s"""<si><t xml:space="preserve">${esc(s)}</t></si>""").mkString + "</sst>"
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(path))
    try (parts :+ ("xl/sharedStrings.xml" -> shared)).foreach { case (n, c) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(n))
      zos.write(c.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    } finally zos.close()
  }
}
