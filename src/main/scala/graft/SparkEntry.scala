package graft

import graft.core.Turn
import graft.extract.Extractor
import graft.ops.{Dedup, Multimodal, Similarity, TextStats}
import graft.spark.Pipeline
import graft.testgen.Synth
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator (SURVEY.md §2),
  * with DuckDB oracle SQL wherever the semantics are exactly expressible in SQL.
  *
  * Float discipline for oracle-matched queries: sums go through DECIMAL so both
  * engines compute exact values; raw doubles are only passed through or min/maxed
  * (no arithmetic), keeping results bit-identical across engines.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Recursively delete a staged stream directory once its bounded streaming
    * query has terminated (the memory sink holds the rows; the staged parquet
    * copies would otherwise leak into /tmp — deleteOnExit only removes empty
    * directories). */
  private def deleteStagedDir(dir: java.nio.file.Path): Unit =
    try {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally walk.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** documents table → RAW transcript turns (deterministic conv/turn mapping
    * shared with the oracle SQL: conv_id = conv_%04d of doc_id%50, turn_idx =
    * doc_id/50). The HTML payload encode is NOT applied here — the pipeline
    * queries fuse it after the range exchange (guide §2.3: the exchange then
    * carries the raw text, and the RangePartitioner's sampling pass doesn't
    * re-run the encode), via [[encodeHtml]]. */
  private def docsAsTurns(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[Turn] = {
    import s.implicits._
    t(s, dir, "documents")
      .select(
        format_string("conv_%04d", pmod(col("doc_id"), lit(50))).as("conv_id"),
        floor(col("doc_id") / 50).cast("int").as("turn_idx"),
        lit("user").as("role"),
        col("text"),
        lit("").as("tool"),
        timestamp_seconds(lit(1735689600L) + col("doc_id")).as("ts"))
      .as[Turn]
  }

  /** Per-row payload encode for the pipeline queries, fused post-exchange. */
  private val encodeHtml: Column => Column = {
    val f = udf((text: String) => Synth.encodeHtml(text))
    c => f(c)
  }

  /** Scale-adaptive fan-out for CPU-bound per-row stages over small compressed
    * scans (r7, guide §2.2/§6): text compresses 10-60× in parquet, so
    * byte-sized splits undercount the work per row and a sub-core partition
    * count serializes the kernel stage on one thread. When the scan yields
    * fewer partitions than defaultParallelism, fan out once (the exchange
    * carries the narrow pre-kernel projection); on a cluster-sized input the
    * scan already exceeds defaultParallelism and this is a NO-OP — no
    * constant tuned to the local core count, no extra exchange at scale. */
  private def fanOutNarrowScan(df: DataFrame): DataFrame = {
    val parts = df.rdd.getNumPartitions
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (parts < target) df.repartition(target) else df
  }

  /** The e2e extraction over the docs-as-turns fixture: raw rows cross the one
    * range exchange, encode+extract run fused in the post-exchange map stage. */
  private def extractDocTurns(s: SparkSession, dir: String) =
    Pipeline.extractTurns(docsAsTurns(s, dir), payload = encodeHtml)

  /** Flagship: the full extraction pipeline on sf0.001 transcripts. */
  def entry(spark: SparkSession): DataFrame =
    extractDocTurns(spark, "/root/testdata/sf0.001").toDF()

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ───────────── relational shell (Catalyst built-ins) ─────────────
    "q01_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
    }),
    "q02_join_broadcast" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      val n = broadcast(t(s, dir, "nation"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    }),
    "q03_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .select("event_id", "user_id", "rn", "prev_type")
    }),
    "q04_topn" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")),
    "q05_filter_pushdown" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("l_quantity") < 25)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"))),
    "q06_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()),
    "q07_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi").select("c_custkey", "c_name")
    }),
    "q08_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").select("c_custkey", "c_name")
    }),
    "q09_set_union" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()),

    // ───────────── extraction engine (round-trip: encode → extract = identity) ─────────────
    "q10_extract_html" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select("doc_id", "text").as[(Long, String)]
        .map { case (id, txt) => (id, Extractor.extract(Synth.encodeHtml(txt)).text) }
        .toDF("doc_id", "extracted_text")
    }),
    "q11_extract_svg" -> ((s, dir) => {
      // the heaviest per-row lane (SVG encode emits one pf-formatted x per
      // glyph): fan the narrow scan out to the session parallelism first —
      // no-op at cluster scale (see fanOutNarrowScan)
      import s.implicits._
      fanOutNarrowScan(t(s, dir, "documents").select("doc_id", "text"))
        .as[(Long, String)]
        .map { case (id, txt) =>
          (id, Extractor.extract(Synth.encodeSvg(txt)).text.replace('\n', ' '))
        }
        .toDF("doc_id", "extracted_text")
    }),
    "q12_extract_pdf" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select("doc_id", "text").as[(Long, String)]
        .map { case (id, txt) =>
          (id, Extractor.extract(Synth.encodePdf(txt)).text.replace('\n', ' '))
        }
        .toDF("doc_id", "extracted_text")
    }),
    "q49_extract_markdown" -> ((s, dir) => {
      // dialect D: markdown turn payloads (front matter + inline decorations)
      // round-trip to the original text, same contract as q10/q11/q12
      import s.implicits._
      t(s, dir, "documents").select("doc_id", "text").as[(Long, String)]
        .map { case (id, txt) => (id, Extractor.extract(Synth.encodeMarkdown(txt)).text) }
        .toDF("doc_id", "extracted_text")
    }),
    "q13_pipeline_e2e" -> ((s, dir) =>
      extractDocTurns(s, dir)
        .select("conv_id", "turn_idx", "extracted_text")),
    "q14_spans" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, txt) =>
          Extractor.extract(Synth.encodeHtml(txt)).spans
            .map(sp => (id, sp.start.toLong, sp.end.toLong, sp.label))
        }
        .toDF("doc_id", "span_start", "span_end", "label")
    }),
    "q15_ordering" -> ((s, dir) => {
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      extractDocTurns(s, dir)
        .select("conv_id", "turn_idx")
        .withColumn("rn", row_number().over(w).cast("long"))
    }),

    // ───────────── dedup suite ─────────────
    "q18_pdf_file_ingest" -> ((s, dir) => {
      // whole-PDF ingestion as a distributed source: binaryFile scan → per-row
      // xref/page-tree/font/evaluator pipeline → ordered tspan entries.
      // Entries are compared space-normalized: the reference goldens embed a
      // fake-space heuristic from a generator build the repo no longer ships
      // (glyph content, order and segmentation are exact; see PdfIngestSpec
      // for the exact-with-spaces floors).
      import s.implicits._
      val _ = dir // inputs are the reference corpus PDFs, not the sf tables
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load("/root/reference/src/test/resources/input")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          graft.pdf.PdfDocument.open(bytes).tspanTexts.zipWithIndex.map {
            case (t, i) => (paper, i.toLong, t.replace(" ", ""))
          }
        }
        .toDF("paper", "entry_idx", "entry_nospace")
    }),
    "q19_pdf_metadata" -> ((s, dir) => {
      // getMetadata parity (reference getinfo.js:33-43): trailer /Info entries
      // (spec-validated keys, PDFDocEncoding/UTF-16BE decoding) plus the
      // catalog /Metadata XMP packet, fingerprinted as length + md5 so the
      // oracle stays a reviewable literal. Expected values below were verified
      // against the raw PDF bytes by inspection (incl. test24's incremental
      // update, whose newer /Info generation supersedes the original).
      import s.implicits._
      val _ = dir
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load("/root/reference/src/test/resources/input")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          val doc = graft.pdf.PdfDocument.open(bytes)
          val infoRows = doc.info.toSeq.map { case (k, v) => (paper, k, v) }
          val xmpRows = doc.xmp.toSeq.flatMap { x =>
            val md = java.security.MessageDigest.getInstance("MD5")
              .digest(x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              .map("%02x".format(_)).mkString
            Seq((paper, "__xmp_chars", x.length.toString), (paper, "__xmp_md5", md))
          }
          infoRows ++ xmpRows
        }
        .toDF("paper", "meta_key", "meta_value")
    }),
    "q19b_pdf_exact_floor" -> ((s, dir) => {
      // Driver-visible exact-WITH-spaces gate (pattern: q33's in-query recall
      // gate). q18 compares space-normalized because the goldens embed a lost
      // generator's fake-space rule; the measured exact ratios (~0.99/1.0/
      // 0.97/0.98) live in PdfIngestSpec as floors. This query recomputes the
      // per-paper exact ratio in-query and gates it against the same floors,
      // so a regression in fake-space reconstruction breaks a CORRECTNESS row,
      // not just a unit test.
      import s.implicits._
      val _ = dir
      val floors = Map(
        "1301.4293" -> 0.98, "C04-1204" -> 0.99, "test24" -> 0.96, "test25" -> 0.97)
      val got = s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load("/root/reference/src/test/resources/input")
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          graft.pdf.PdfDocument.open(bytes).tspanTexts.zipWithIndex.map {
            case (t, i) => (paper, i.toLong, t)
          }
        }.toDF("paper", "idx", "got_entry")
      val exp = s.read.format("binaryFile").option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "tspan-texts.txt")
        .load("/root/reference/src/test/resources/output")
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').dropRight(1).last.stripSuffix(".pdf.expected")
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
            .stripSuffix("\n").split("\n\n", -1).toVector.zipWithIndex.map {
              case (t, i) => (paper, i.toLong, t)
            }
        }.toDF("paper", "idx", "exp_entry")
      val floorExpr = floors.foldLeft(lit(1.1)) { // unknown paper never passes
        case (acc, (k, v)) => when(col("paper") === k, lit(v)).otherwise(acc)
      }
      got.join(exp, Seq("paper", "idx"), "full_outer") // count mismatches surface as nulls
        .groupBy("paper")
        .agg(
          sum(when(col("got_entry") === col("exp_entry"), 1L).otherwise(0L)).as("exact"),
          count(lit(1)).as("total"))
        .select(col("paper"),
          ((col("exact") / col("total")) >= floorExpr).cast("long").as("exact_floor_ok"))
    }),
    "q63_pdf_text_styles" -> ((s, dir) => {
      // the getTextContent STYLES surface (SURVEY.md §2.7 R8, round 6): per
      // corpus PDF and page, the per-item fontName sequence and the styles
      // dict (loadedName → fontFamily/ascent/descent) reduced to md5s. The
      // oracle literals are computed from fixtures the vendored engine
      // itself produced under node with ONE process iterating all pages
      // (reference-*-styles.json — doc-cumulative g_d0_f<id> font ids), so
      // this gates the id-assignment rules (sequential descriptor ids,
      // num_gen Type3s, missing-file name overrides), the fallback-family
      // flags+heuristic, and TrueType hhea metrics on all 30 pages.
      import s.implicits._
      val _ = dir
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load("/root/reference/src/test/resources/input")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          val doc = graft.pdf.PdfDocument.open(bytes)
          def fmt(d: Double): String =
            if (d.isNaN) "null"
            else {
              val s0 = new java.math.BigDecimal(d)
                .setScale(6, java.math.RoundingMode.HALF_UP)
                .stripTrailingZeros.toPlainString
              if (s0.isEmpty) "0" else s0
            }
          (1 to doc.pages.length).map { page =>
            val (items, styles) = doc.textContentItemsWithStyles(page - 1)
            val names = items.map(_.fontName).mkString("\n")
            val canon = styles.map { case (k, st) =>
              val vert = st.vertical.map(_.toString).getOrElse("-")
              s"$k|${st.fontFamily}|${fmt(st.ascent)}|${fmt(st.descent)}|$vert"
            }.mkString(";")
            (paper, page, items.length.toLong, styles.length.toLong, names, canon)
          }
        }
        .toDF("paper", "page", "n_items", "n_styles", "names", "canon")
        .select(col("paper"), col("page"), col("n_items"), col("n_styles"),
          md5(col("names")).as("names_md5"), md5(col("canon")).as("styles_md5"))
    }),
    "q65_pdf_outline" -> ((s, dir) => {
      // the getOutline surface (reference Catalog.readDocumentOutline,
      // pdf.combined.js:42605-42679; round 6): per corpus PDF, the outline
      // (bookmark) tree flattened pre-order — title, rendered destination,
      // url, rgb color, bold/italic flags, raw /Count and the destination's
      // 0-based page (resolved through getDestinations + the page-tree ref
      // map). Literals below were cross-checked item-for-item against
      // fixtures the vendored engine itself produced (getOutline +
      // getPageIndex under node — OutlineParitySpec gates the full surface
      // including all 349 named destinations). Papers without an outline
      // emit the (-1, -1) sentinel, the reference's null. A synthetic doc
      // adds the url-action and flags/color lanes the corpus lacks.
      import s.implicits._
      val _ = dir
      val synthetic = s.createDataset(Seq(
        ("synthetic/outline_url.pdf", graft.testgen.Synth.pdfWithCatalogExtra(2,
          "/Outlines 5 0 R", Seq(
            "<< /First 6 0 R /Last 7 0 R >>",
            "<< /Title (Site) /F 3 /C [0 0.5 1] /A << /S /URI /URI (https://example.org/p) >> /Next 7 0 R >>",
            "<< /Title (Here) /Dest [4 0 R /XYZ 10 20 null] >>")))))
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load("/root/reference/src/test/resources/input", "/root/reference/test-papers")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .union(synthetic)
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          val doc = graft.pdf.PdfDocument.open(bytes)
          doc.outline match {
            case Some(items) =>
              items.flatMap(_.flatten(0)).zipWithIndex.map { case ((depth, it), ord) =>
                (paper, ord, depth, it.title, it.dest.getOrElse(""),
                  it.url.getOrElse(""), s"${it.colorR},${it.colorG},${it.colorB}",
                  it.count.map(graft.pdf.PdfDocument.jsNum).getOrElse(""),
                  it.bold, it.italic, it.destPage.getOrElse(-1))
              }
            case None => Seq((paper, -1, -1, "", "", "", "", "", false, false, -1))
          }
        }
        .toDF("paper", "ord", "depth", "title", "dest", "url", "color",
          "cnt", "bold", "italic", "dest_page")
    }),
    "q66_named_dests" -> ((s, dir) => {
      // the getDestinations surface (reference Catalog.destinations,
      // pdf.combined.js:42686-42720): per corpus PDF, the named-destination
      // count and an md5 over the sorted canonical `name=dest` dump
      // (`ref:num_gen` / `name:X` / js-number rendering). The corpus covers
      // all three naming flavors: 1301's name tree, test24's UTF-16BE-keyed
      // tree (217 entries), test25/2839's flat trees; literals derive from
      // the vendored engine's own getDestinations dump (OutlineParitySpec
      // gates every entry, this pins the aggregate).
      import s.implicits._
      val _ = dir
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load("/root/reference/src/test/resources/input", "/root/reference/test-papers")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .map { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          val doc = graft.pdf.PdfDocument.open(bytes)
          val canon = doc.destinations.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=${graft.pdf.PdfDocument.renderDest(v)}" }
            .mkString("\n")
          (paper, doc.destinations.size.toLong, canon)
        }
        .toDF("paper", "n_dests", "canon")
        .select(col("paper"), col("n_dests"), md5(col("canon")).as("dests_md5"))
    }),
    "q67_pdf_attachments" -> ((s, dir) => {
      // the getAttachments surface (reference Catalog.attachments +
      // FileSpec, pdf.combined.js:42830-42850, 43850-43930): embedded-file
      // name trees with the platform-name pick (UF > F > Unix > Mac > DOS),
      // the reference's exact backslash normalization, and decoded /EF
      // contents. The corpus carries none (sentinel rows — both engines
      // agree); the synthetic doc's three filespecs (backslash /F + Flate,
      // UTF-16BE key//UF + raw, EF-less) match the vendored engine's own
      // dump entry-for-entry (AttachmentsSpec).
      import s.implicits._
      val _ = dir
      val synthetic = s.createDataset(Seq(
        ("synthetic/attach.pdf", graft.testgen.Synth.pdfWithAttachments())))
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load("/root/reference/src/test/resources/input", "/root/reference/test-papers")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .union(synthetic)
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          val atts = graft.pdf.PdfDocument.open(bytes).attachments
          if (atts.isEmpty) Seq((paper, "", "", -1, ""))
          else atts.toSeq.sortBy(_._1).map { case (name, (fn, content)) =>
            val md5hex = content.map(c => java.security.MessageDigest
              .getInstance("MD5").digest(c).map("%02x".format(_)).mkString)
              .getOrElse("")
            (paper, name, fn, content.map(_.length).getOrElse(-1), md5hex)
          }
        }
        .toDF("paper", "name", "filename", "clen", "cmd5")
    }),
    "q68_pdf_javascript" -> ((s, dir) => {
      // the getJavaScript surface (reference Catalog.javaScript,
      // pdf.combined.js:42852-42898): /Names → /JavaScript action scripts
      // (string and stream /JS), non-JS actions skipped, plus the catalog
      // /OpenAction — the de-facto named Print action and /S /JavaScript
      // dicts. Corpus rows are sentinels (no document JS anywhere — both
      // engines agree); the synthetic docs match the vendored dumps.
      import s.implicits._
      val _ = dir
      val synthetic = s.createDataset(Seq(
        ("synthetic/js.pdf", graft.testgen.Synth.pdfWithJavaScript()),
        ("synthetic/jsopen.pdf",
          graft.testgen.Synth.pdfWithJavaScript(openActionJs = true))))
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load("/root/reference/src/test/resources/input", "/root/reference/test-papers")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .union(synthetic)
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          val js = graft.pdf.PdfDocument.open(bytes).javaScript
          if (js.isEmpty) Seq((paper, -1, ""))
          else js.zipWithIndex.map { case (code, i) => (paper, i, code) }
        }
        .toDF("paper", "ord", "js")
    }),
    "q69_pdf_fingerprint" -> ((s, dir) => {
      // the document fingerprint surface (reference PDFDocument.fingerprint,
      // pdf.combined.js:49271-49292): trailer /ID[0] hex when present and
      // non-placeholder, else MD5 over the first 1024 file bytes (with the
      // reference's zero-pad-to-1024 quirk for shorter files). All literals
      // verified against the vendored engine under node (AttachmentsSpec).
      // The natural corpus-dedup key for a PDF ingest pipeline.
      import s.implicits._
      val _ = dir
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load("/root/reference/src/test/resources/input", "/root/reference/test-papers")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .map { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          (paper, graft.pdf.PdfDocument.open(bytes).fingerprint)
        }
        .toDF("paper", "fingerprint")
    }),
    "q70_pdf_annotations" -> ((s, dir) => {
      // the getAnnotations surface (reference Page.annotations +
      // AnnotationFactory, pdf.combined.js:47897-48725; round 6): per
      // corpus page, the viewable annotation count + md5 of the canonical
      // record dump (id, subtype, type, normalized rect, flags, appearance,
      // color, url/dest/action). The corpus carries 265 Link annotations —
      // arXiv URI actions, named dests with appearance streams + flags,
      // GoTo dests — each matched field-for-field against the vendored
      // engine's own getAnnotations dumps (AnnotationsParitySpec; Text /
      // Widget / Popup / FileAttachment lanes gate there on synthetics).
      import s.implicits._
      val _ = dir
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load("/root/reference/src/test/resources/input", "/root/reference/test-papers")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          val doc = graft.pdf.PdfDocument.open(bytes)
          def fmt(d: Double): String = {
            val s0 = new java.math.BigDecimal(d)
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .stripTrailingZeros.toPlainString
            if (s0.isEmpty) "0" else s0
          }
          def canon(a: graft.pdf.AnnotData): String = {
            val color = a.color.map { case (r, g, b) => s"$r,$g,$b" }.getOrElse("-")
            Seq(a.id, a.subtype, a.annotationType.map(_.toString).getOrElse("-"),
              a.rect.map(fmt).mkString(","), a.flags.toString,
              a.hasAppearance.toString, color, a.url.getOrElse("-"),
              a.dest.getOrElse("-"), a.action.getOrElse("-")).mkString("|")
          }
          val rows = (0 until doc.pages.length).flatMap { i =>
            val as = doc.annotations(i)
            if (as.isEmpty) None
            else Some((paper, i + 1, as.length.toLong, as.map(canon).mkString("\n")))
          }
          if (rows.isEmpty) Seq((paper, -1, 0L, "")) else rows
        }
        .toDF("paper", "page", "n_annots", "joined")
        .select(col("paper"), col("page"), col("n_annots"),
          when(col("joined") === "", "").otherwise(md5(col("joined"))).as("annots_md5"))
    }),
    "q71_streaming_sessions" -> ((s, dir) => {
      // the Structured Streaming lane under a hard oracle (round 6 —
      // previously unit-gated only): the events table read as a BOUNDED
      // file stream (Trigger.AvailableNow), sessionized per user through
      // flatMapGroupsWithState with an EVENT-TIME TIMEOUT, memory-sinked.
      // Bounded-stream semantics are deterministic: one data batch holds
      // every row (so each user accumulates one session), then the no-data
      // flush batch fires timeouts for sessions whose lastTs + gap lies
      // strictly below the final watermark (max event-time ms − delay) —
      // users active within the last 2·gap of the stream stay open and are
      // withheld, exactly what an unbounded run would do. The oracle
      // replays that rule relationally (ms truncation included — both the
      // watermark and the emitted timestamps are ms-precision).
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      // FileStreamSource wants a directory: stage the single file into one
      val streamDir = java.nio.file.Files.createTempDirectory("q71_events")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        streamDir.resolve("events.parquet"))
      streamDir.toFile.deleteOnExit()
      val turns = s.readStream.schema(schema).parquet(streamDir.toString)
        .select(col("user_id").cast("string").as("conv_id"),
          col("event_id").cast("int").as("turn_idx"),
          col("event_type").as("role"),
          col("props").as("text"),
          lit("").as("tool"),
          // the parquet ts is NTZ; the session runs UTC, so the cast is a
          // pure type change and getTime matches the naive epoch
          col("ts").cast("timestamp").as("ts"))
        .as[graft.core.Turn]
      // unique sink name: re-invocation in one session must not collide
      val sink71 = "q71_sessions_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = graft.streaming.StreamingPipeline.sessionize(turns, gapMinutes = 30)
        .writeStream.format("memory").queryName(sink71)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      deleteStagedDir(streamDir)
      s.table(sink71)
        .select(col("conv_id"), col("turns"), col("chars"),
          col("first_ts"), col("last_ts"))
    }),
    "q72_streaming_dedup" -> ((s, dir) => {
      // the streaming exact-dedup lane under a hard oracle (round 6): the
      // events table staged TWICE into the stream directory — every row a
      // replay duplicate — through dropDuplicatesWithinWatermark keyed by
      // (identity, 64-bit content hash). Both copies land in one
      // AvailableNow batch, inside the watermark horizon by construction,
      // so the output is exactly one row per original event; the oracle is
      // the plain distinct projection.
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val streamDir = java.nio.file.Files.createTempDirectory("q72_events")
      Seq("a", "b").foreach { tag =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$dir/events.parquet"),
          streamDir.resolve(s"events_$tag.parquet"))
      }
      streamDir.toFile.deleteOnExit()
      val turns = s.readStream.schema(schema).parquet(streamDir.toString)
        .select(col("user_id").cast("string").as("conv_id"),
          col("event_id").cast("int").as("turn_idx"),
          col("event_type").as("role"),
          col("props").as("text"),
          lit("").as("tool"),
          col("ts").cast("timestamp").as("ts"))
        .as[graft.core.Turn]
      val sink72 = "q72_deduped_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = graft.streaming.StreamingPipeline.dedupeStream(turns)
        .writeStream.format("memory").queryName(sink72)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      deleteStagedDir(streamDir)
      s.table(sink72)
        .select(col("conv_id"), col("turn_idx"), col("role"),
          md5(col("text")).as("text_md5"), col("ts"))
    }),
    "q73_streaming_windows" -> ((s, dir) => {
      // the watermarked windowed-aggregation lane under a hard oracle
      // (round 6): events as a bounded AvailableNow stream through
      // windowedMetrics — extraction + 1-minute event-time tumbling windows
      // per role with 5 minutes of tolerated lateness, append mode. The
      // no-data flush batch closes every window whose end lies at or below
      // the final watermark (max event-time ms − 5 min); the oracle replays
      // that rule relationally over the turn counts (the extracted-char
      // sums ride the extractor kernel, which the golden gates own).
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val streamDir = java.nio.file.Files.createTempDirectory("q73_events")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        streamDir.resolve("events.parquet"))
      streamDir.toFile.deleteOnExit()
      val turns = s.readStream.schema(schema).parquet(streamDir.toString)
        .select(col("user_id").cast("string").as("conv_id"),
          col("event_id").cast("int").as("turn_idx"),
          col("event_type").as("role"),
          col("props").as("text"),
          lit("").as("tool"),
          col("ts").cast("timestamp").as("ts"))
        .as[graft.core.Turn]
      val sink73 = "q73_windows_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = graft.streaming.StreamingPipeline.windowedMetrics(turns)
        .writeStream.format("memory").queryName(sink73)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      deleteStagedDir(streamDir)
      s.table(sink73)
        .select(col("window.start").as("wstart"), col("role"), col("turns"))
    }),
    "q64_page_labels" -> ((s, dir) => {
      // catalog /PageLabels number tree → per-page display labels (SURVEY.md
      // §2.8 C4, round 6; reference Catalog.pageLabels): corpus papers —
      // test24 and 2839 carry REAL decimal label trees, the other three have
      // none — plus synthetic trees covering roman/decimal/letter styles,
      // prefixes, /Kids-split leaves and the all-or-nothing malformed
      // discipline. A document without a (valid) /PageLabels surface emits a
      // single (page=-1, label='') row — the reference's null, relational.
      import s.implicits._
      val _ = dir
      val synthetic = s.createDataset(Seq(
        ("synthetic/labels_mixed.pdf", graft.testgen.Synth.pdfWithCatalogExtra(7,
          "/PageLabels << /Nums [0 << /S /r >> 2 << /S /D >> 5 << /S /D /P (A-) >>] >>")),
        ("synthetic/labels_letters.pdf", graft.testgen.Synth.pdfWithCatalogExtra(3,
          "/PageLabels << /Nums [0 << /S /A /St 26 >>] >>")),
        ("synthetic/labels_kids.pdf", graft.testgen.Synth.pdfWithCatalogExtra(4,
          "/PageLabels << /Kids [7 0 R 8 0 R] >>", Seq(
            "<< /Limits [0 1] /Nums [0 << /S /r >>] >>",
            "<< /Limits [2 3] /Nums [2 << /S /D >>] >>"))),
        ("synthetic/labels_malformed.pdf", graft.testgen.Synth.pdfWithCatalogExtra(2,
          "/PageLabels << /Nums [0 << /S /Q >>] >>"))))
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load("/root/reference/src/test/resources/input", "/root/reference/test-papers")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .union(synthetic)
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          graft.pdf.PdfDocument.open(bytes).pageLabels match {
            case Some(ls) => ls.zipWithIndex.map { case (l, i) => (paper, i, l) }
            case None => Seq((paper, -1, ""))
          }
        }
        .toDF("paper", "page", "label")
    }),
    "q62_pdf_text_items" -> ((s, dir) => {
      // reference-parity TEXT-CONTENT ITEMS (the getTextContent surface,
      // rounds 5-6): per corpus PDF and EVERY page, item count + md5 of the
      // newline-joined item strings. The oracle literals are computed from
      // fixtures generated by the vendored engine ITSELF under node
      // (src/test/resources/reference-*-page*-items.json — 30 pages, 10556
      // items), so this gate is full-document item-level equality with the
      // reference, no per-page induction.
      import s.implicits._
      val _ = dir
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load("/root/reference/src/test/resources/input")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          val doc = graft.pdf.PdfDocument.open(bytes)
          (1 to doc.pages.length).map { page =>
            val items = doc.textContentItems(page - 1)
            (paper, page, items.length.toLong, items.map(_.str).mkString("\n"))
          }
        }
        .toDF("paper", "page", "n_items", "joined")
        .select(col("paper"), col("page"), col("n_items"),
          md5(col("joined")).as("items_md5"))
    }),
    "q61_pdf_images" -> ((s, dir) => {
      // real raster decode over the PDF corpus (S13 upgraded from bbox-only
      // markers): DCTDecode via the JDK JPEG reader, CCITTFaxDecode G3/G4 via
      // a minimal TIFF wrap around the JDK fax decompressor, raw Flate/LZW
      // samples unpacked directly (gray/RGB/ICC-N/Indexed/mask). Expected
      // values are committed literals: decoded dims equal the dict dims for
      // all 36 images (independent cross-check — codec bitstream vs author
      // dict), counts match the corpus object scan. test-papers/2839.pdf
      // joins the corpus here for its 7 CCITT-G4 scans.
      import s.implicits._
      val _ = dir
      // the corpus has no JBIG2 or JPX instance, so deterministic synthetic
      // PDFs (Jbig2Synth + JpxSynth encoders, rounds 4-5) join it: JBIG2
      // generic-region / symbol-coded / globals-split / MMR pages and four
      // JPX flavors; decoded dims and mean gray are pinned literals in the
      // oracle, and both codecs are node-cross-validated against the
      // reference's own vendored decoders
      val synthetic = s.createDataset(Seq(
        ("synthetic/jbig2.pdf", graft.testgen.Jbig2Synth.pdfWithJbig2(64, 48, seed = 5)),
        ("synthetic/jbig2text.pdf",
          graft.testgen.Jbig2Synth.pdfWithJbig2(40, 24, seed = 0, symbolCoded = true)),
        // the same symbol-coded page with the dictionary in a /JBIG2Globals
        // stream (DecodeParms) — the shape real multi-page scans ship
        ("synthetic/jbig2glob.pdf",
          graft.testgen.Jbig2Synth.pdfWithJbig2(40, 24, seed = 0, globalsSplit = true)),
        ("synthetic/jbig2mmr.pdf",
          graft.testgen.Jbig2Synth.pdfWithJbig2(64, 48, seed = 5, mmr = true)),
        ("synthetic/jbig2huff.pdf",
          graft.testgen.Jbig2Synth.pdfWithJbig2(40, 24, seed = 0, huffman = true)),
        ("synthetic/jbig2ht.pdf",
          graft.testgen.Jbig2Synth.pdfWithJbig2(48, 32, seed = 0, halftone = true)),
        // the SAME halftone grayscale as one continuous MMR (G4) stream —
        // lossless lane equality, so the pinned mean matches jbig2ht's
        ("synthetic/jbig2htmmr.pdf",
          graft.testgen.Jbig2Synth.pdfWithJbig2(48, 32, seed = 0, halftoneMmr = true)),
        // huffman text region with two per-instance refinements (6.4.11
        // with SBHUFF=1) — mean 230 vs the unrefined huffman row's 231
        ("synthetic/jbig2huffref.pdf",
          graft.testgen.Jbig2Synth.pdfWithJbig2(40, 24, seed = 0, huffRefine = true)),
        // generic region + type-42 refinement region (REPLACE composition,
        // TPGRON typical prediction) — the refined raster clears a band the
        // base draws, so the pinned mean (174 vs base 158) gates the refine
        ("synthetic/jbig2refine.pdf",
          graft.testgen.Jbig2Synth.pdfWithJbig2(40, 24, seed = 5, refine = true)),
        // JPX (round 5): raw codestream gray, RGB + reversible RCT, 9/7
        // lossy, and the JP2 box container — all via the from-spec T.800
        // decoder, cross-validated against the reference's vendored JPX
        // decoder under node (0 pixel mismatches)
        ("synthetic/jpx.pdf", graft.testgen.JpxSynth.pdfWithJpx(64, 48, seed = 2)),
        ("synthetic/jpxrgb.pdf",
          graft.testgen.JpxSynth.pdfWithJpx(64, 48, seed = 2, rgb = true)),
        ("synthetic/jpx97.pdf",
          graft.testgen.JpxSynth.pdfWithJpx(64, 48, seed = 2, lossy = true)),
        ("synthetic/jpxjp2.pdf",
          graft.testgen.JpxSynth.pdfWithJpx(64, 48, seed = 2, jp2 = true)),
        // 4:2:0 component subsampling (round 6): full-res luma + half-res
        // chroma decoded on their own grids and replicated up — six
        // subsampled codestream classes cross-validated at 0 mismatches
        ("synthetic/jpx420.pdf",
          graft.testgen.JpxSynth.pdfWithJpx(64, 48, seed = 2, sub420 = true)),
        ("synthetic/jpxprec.pdf",
          graft.testgen.JpxSynth.pdfWithJpx(64, 48, seed = 2, precincts = true)),
        // all six code-block style bits over two layers (selective bypass
        // raw passes, context reset, per-pass termination, vertically
        // causal contexts, predictable termination, segmentation symbols) —
        // lossless, so the pinned mean must equal the unstyled gray rows'
        ("synthetic/jpxstyles.pdf",
          graft.testgen.JpxSynth.pdfWithJpx(64, 48, seed = 2, styles = true)),
        // maxshift ROI (RGN marker, round 6): the central rectangle's
        // coefficients ride 2^SPrgn above every background magnitude and
        // are threshold-downshifted back — lossless, so the pinned mean
        // must equal the unstyled gray rows' (the reference's vendored
        // decoder throws on RGN; this is a beyond-parity lane)
        ("synthetic/jpxroi.pdf",
          graft.testgen.JpxSynth.pdfWithJpx(64, 48, seed = 2, roi = true)),
        // odd reference-grid offsets (XOsiz 5 / YOsiz 3): the parity-general
        // wavelet (round 6) — lossless, so the pinned mean again equals the
        // unstyled gray rows' (the vendored decoder's transform is
        // parity-blind and would mis-decode this stream)
        ("synthetic/jpxoff.pdf",
          graft.testgen.JpxSynth.pdfWithJpx(64, 48, seed = 2, offsets = true)),
        // per-tile coding overrides (A.4.2, round 6): the second tile of a
        // 2-tile grid re-codes itself (RLCP, 2 layers, fewer levels,
        // smaller blocks, own QCD) via first-tile-part COD/QCD markers —
        // lossless, so the pinned mean equals the unstyled gray rows'
        // (seven such classes cross-validate against the vendored decoder
        // at 0 mismatches)
        ("synthetic/jpxtile.pdf",
          graft.testgen.JpxSynth.pdfWithJpx(64, 48, seed = 2, tiles = true))))
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load("/root/reference/src/test/resources/input", "/root/reference/test-papers")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .union(synthetic)
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          graft.pdf.PdfImages.list(graft.pdf.PdfDocument.open(bytes)).map { i =>
            (paper, i.page, i.name, i.width, i.height, i.bpc, i.colorSpace,
              i.filter, i.decodedW, i.decodedH, i.decodedBands, i.grayMean)
          }
        }
        .toDF("paper", "page", "name", "width", "height", "bpc", "color_space",
          "filter", "dec_w", "dec_h", "dec_bands", "gray_mean")
    }),
    "q16_sql_extract" -> ((s, dir) => {
      graft.functions.TextHashes.register(s)
      import s.implicits._
      t(s, dir, "documents").select("doc_id", "text").as[(Long, String)]
        .map { case (id, txt) => (id, Synth.encodeHtml(txt)) }
        .toDF("doc_id", "payload")
        .createOrReplaceTempView("payloads")
      s.sql("SELECT doc_id, extract_text(payload) AS extracted_text FROM payloads")
    }),
    "q17_conv_rollup" -> ((s, dir) =>
      graft.spark.ConvRollup.salted(extractDocTurns(s, dir))
        .select(col("conv_id"), col("turns"), col("chars"),
          col("max_turn_idx").cast("int").as("max_turn_idx"))),
    "q20_dedup_exact" -> ((s, dir) =>
      // the byte-exact (verifyBytes) path is the oracle-comparable reference;
      // production callers use exact128 (q46's path)
      (Dedup.exact(t(s, dir, "documents"), "doc_id", "text",
        verifyBytes = true): @scala.annotation.nowarn("cat=deprecation"))),
    "q21_dedup_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mutated = docs.select(
        (col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), " [^ ]*$", "").as("text"))
      Dedup.minhashNearDups(docs.union(mutated), "doc_id", "text", threshold = 0.8)
        .select("a", "b").orderBy("a", "b")
    }),
    "q22_simhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val mutated = docs.select(
        (col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), " [^ ]*$", "").as("text"))
      Dedup.simhashNearDups(docs.union(mutated), "doc_id", "text", maxHamming = 3)
        .select("a", "b").orderBy("a", "b")
    }),

    "q24_dedup_norm" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(lower(col("text")).as("norm"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id", "norm")),
    "q25_fingerprint_pairs" -> ((s, dir) =>
      // substring-overlap candidates: winnowing fingerprint sets (MOSS-style)
      // joined on shared selected k-gram minima — catches copied paragraphs
      // between otherwise-different documents (MinHash q21 only sees
      // whole-document resemblance). Uncapped here for exact oracle
      // semantics; production sets maxBucket (hot fingerprints are
      // boilerplate by definition).
      Dedup.fingerprintNearDups(t(s, dir, "documents"), "doc_id", "text",
        k = 24, w = 12, minShared = 2)),
    "q26_dedup_clusters" -> ((s, dir) =>
      // candidate pairs → dedup clusters: min-label propagation over the q25
      // winnow-pair graph; component = min reachable id, so id == component
      // elects the deterministic survivor. Oracle = exact recursive
      // transitive closure in DuckDB over the same (mirrored) pair graph.
      Dedup.connectedComponents(
        Dedup.fingerprintNearDups(t(s, dir, "documents"), "doc_id", "text",
          k = 24, w = 12, minShared = 2),
        "id_a", "id_b")),
    "q26b_dedup_clusters_dist" -> ((s, dir) =>
      // same clusters, DISTRIBUTED path forced (driverEdgeLimit = 0): the
      // large-star/small-star contraction itself is gated against the exact
      // recursive closure, not just unit-tested against union-find.
      Dedup.connectedComponents(
        Dedup.fingerprintNearDups(t(s, dir, "documents"), "doc_id", "text",
          k = 24, w = 12, minShared = 2),
        "id_a", "id_b", driverEdgeLimit = 0)),
    "q36_substring_dedup" -> ((s, dir) => {
      // exact substring-level dedup (Lee et al. 2022 ExactSubstr over word
      // grams): the synthetic corpus has no natural cross-doc 15-grams, so
      // docs with doc_id % 10 == 3 get the first document's leading 25 words
      // appended — known duplicated spans the operator must find and clip
      // (including from the source document's own head). The oracle replays
      // gram-flagging, span merge and the clip positionally in DuckDB.
      val docs = t(s, dir, "documents")
      val snippet = docs.orderBy("doc_id").limit(1)
        .select(array_join(
          slice(filter(split(col("text"), " "), w => length(w) > 0), 1, 25), " ").as("__sn"))
      val corpus = docs.crossJoin(broadcast(snippet))
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 3, concat(col("text"), lit(" "), col("__sn")))
            .otherwise(col("text")).as("text"))
      Dedup.substringDedup(corpus, "doc_id", "text", l = 15, minDocs = 2)
    }),
    "q36b_substring_dedup_bloom" -> ((s, dir) => {
      // the TWO-PASS variant (bloom pre-filter before the gram exchange) on
      // the same planted fixture — must be byte-identical to q36's output,
      // proven by sharing q36's positional-replay oracle verbatim
      val docs = t(s, dir, "documents")
      val snippet = docs.orderBy("doc_id").limit(1)
        .select(array_join(
          slice(filter(split(col("text"), " "), w => length(w) > 0), 1, 25), " ").as("__sn"))
      val corpus = docs.crossJoin(broadcast(snippet))
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 3, concat(col("text"), lit(" "), col("__sn")))
            .otherwise(col("text")).as("text"))
      Dedup.substringDedupTwoPass(corpus, "doc_id", "text", l = 15, minDocs = 2)
    }),
    "q37_semantic_dedup" -> ((s, dir) => {
      // SemDeDup composition: capped cosine near-dup pairs → connected
      // components → min-id survivor election. Same scaled-twin fixture as
      // q32 (cosine exactly 1), so every twin pair forms a 2-node cluster
      // whose original is the survivor; untouched embeddings are singleton
      // survivors. Oracle = the q32 pair mirror + exact recursive closure.
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val twins = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), v => v * lit(1.5f)).as("embedding"))
      Dedup.semanticClusters(emb.union(twins), "vec_id", "embedding",
        threshold = 0.999, bits = 6)
    }),
    "q23_ngram_jaccard" -> ((s, dir) => {
      // exact word-3-gram Jaccard between each doc and its last-word-dropped twin
      // (integer intersection/union sizes — oracle-reproducible, no float compare)
      val d = t(s, dir, "documents")
        .select(col("doc_id").as("a"), col("text").as("ta"),
          regexp_replace(col("text"), " [^ ]*$", "").as("tb"))
        .withColumn("sa", array_distinct(Dedup.shingles(col("ta"), 3)))
        .withColumn("sb", array_distinct(Dedup.shingles(col("tb"), 3)))
      d.select(
        col("a"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        (size(col("sa")) + size(col("sb")) - size(array_intersect(col("sa"), col("sb"))))
          .cast("long").as("uni"))
    }),

    "q44_chunking" -> ((s, dir) =>
      graft.ops.Chunking.chunkWords(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text",
        size = 32, stride = 24)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"), col("chunk_text"))),
    "q27_stratified_sample" -> ((s, dir) =>
      // mixture-weighting primitive: keep the n lowest-mix64(id) docs per
      // stratum — deterministic, seed-free "random" sampling whose rank key
      // is the same splitmix64 finalizer the sketch kernels use (and the
      // oracle mirrors). Strata here are the conv grouping (doc_id % 50).
      graft.ops.Sampling.stratifiedSample(
        t(s, dir, "documents").withColumn("stratum", pmod(col("doc_id"), lit(50))),
        "doc_id", "stratum", n = 3)
        .select("doc_id", "stratum")),
    "q28_pack_sequences" -> ((s, dir) =>
      // sequence packing: per conv, docs (ordered by id) greedily fill
      // 500-token sequences using the mirrored BPE-ish token estimate; the
      // oracle replays the same greedy scan as a recursive CTE.
      graft.ops.Sampling.packSequences(
        t(s, dir, "documents").select(
          pmod(col("doc_id"), lit(50)).as("conv"),
          col("doc_id"),
          TextStats.bpeishTokenCount(col("text")).as("tokens")),
        "conv", "doc_id", "tokens", budget = 500L)),
    "q45_redact" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.ops.Chunking.redactPii(
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or +1 (415) 555-01"), pmod(col("doc_id"), lit(90)) + 10))
          .as("redacted"))),

    "q47_decontaminate" -> ((s, dir) => {
      // train/test hygiene: flag corpus docs sharing any word-8-gram with a
      // deterministic "benchmark" subset (doc_id % 97 == 0). The synthetic
      // corpus has no natural cross-doc 8-grams, so docs with doc_id % 10 == 3
      // get the first benchmark doc's leading 8 words appended — a known
      // contamination set the oracle reproduces (the same make-your-own-
      // positives pattern as q21's dropped-word twins). Benchmark shingles
      // broadcast; the corpus never shuffles.
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val snippet = bench.orderBy("doc_id").limit(1)
        .select(array_join(
          slice(filter(split(col("text"), " "), w => length(w) > 0), 1, 8), " ").as("__sn"))
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .crossJoin(broadcast(snippet))
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 3, concat(col("text"), lit(" "), col("__sn")))
            .otherwise(col("text")).as("text"))
      graft.ops.Dedup.decontaminate(corpus, bench, "doc_id", "text", shingleK = 8)
    }),
    "q48_repetition" -> ((s, dir) => {
      // Gopher-style repetition quality signal: share of all word bigrams
      // taken by the most frequent one, as a native single-pass kernel
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextHashes.top_bigram_share(col("text")).as("top_bigram_share"))
    }),
    "q46_clean_pipeline" -> ((s, dir) => {
      // the composed training-data cleaning flow: exact dedup -> quality gate
      // -> language filter -> PII redaction -> token-window chunking.
      // Dedup is the 128-bit hash-first path (Dedup.exact128): winner election
      // shuffles only (hash128, id) — 24-byte rows instead of full documents —
      // and the text rides a single id-keyed semi-join afterwards. The 128-bit
      // key (two independently-seeded xxhash64 variants) makes silent
      // collision merges ~10^-15 at 10^12 rows, so the byte-exact oracle holds.
      // NOTE (r7): fanning the scan out before the dedup semi-join was tried
      // (the BHJ probe side inherits the scan's 1-partition layout) and
      // measured ~0.35 s SLOWER across two full bench runs — the added
      // exchange outweighs parallelizing a kernel chain that, after the
      // byte-scan kernel swaps, costs ~0.1 s single-core here. At cluster
      // scale the scan is already wide. Kept as the plain scan.
      val docs = t(s, dir, "documents")
      val deduped = graft.ops.Dedup.exact128(docs, "doc_id", "text")
        .select(col("text"), col("doc_id"))
      val len = length(col("text"))
      val nWords = TextStats.wsTokenCount(col("text"))
      val nStop = graft.functions.TextHashes.token_set_count(lower(col("text")),
        Seq("the", "of", "and", "a", "to", "in", "is", "for", "on", "with"))
      val punct = TextStats.punctCount(col("text"))
      val quality = when(len.between(50, 10000), lit(4)).when(len.between(20, 50000), lit(2)).otherwise(lit(0)) +
        when(nStop * 20 > nWords, lit(3)).otherwise(lit(0)) +
        when(punct * 5 < len, lit(3)).otherwise(lit(0))
      val cleaned = deduped
        .filter(quality >= 7)
        .filter(TextStats.langId(col("text")) === "en")
        .select(col("doc_id"), graft.ops.Chunking.redactPii(col("text")).as("text"))
      graft.ops.Chunking.chunkWords(cleaned, "doc_id", "text", size = 32, stride = 24)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"), col("chunk_text"))
    }),

    // ───────────── similarity search ─────────────
    "q30_ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    "q31_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5, bits = 6)
        .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),

    "q33_ann_ivf" -> ((s, dir) => {
      // IVF is approximate by construction (the Lloyd iteration is not SQL-
      // expressible), so the hard gate is in-query: every query's IVF top-5
      // must recover >= 2 of the exact brute-force top-5 at nprobe=6/16 — the
      // oracle expects recall_ok = 1 for every query, making recall
      // regressions hash-visible. (Random uniform embeddings are IVF's worst
      // case; measured per-query hits at sf0.01 are 2-5.)
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val ivf = Similarity.ivfTopK(q, emb, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 6)
      val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
      // NOTE (r7): explicit broadcast() hints on these bounded gate joins
      // were tried (guide §3.1) and MEASURED 1.35-1.4x slower against an
      // interleaved untouched control: the broadcast build serializes the
      // whole top-k subtree into a separate build job, costing more than the
      // 50-row sort-merge exchanges it saves; AQE already rewrites to
      // broadcast at runtime when profitable. Kept as SMJ-planned.
      val hits = ivf.select("qid", "nid")
        .join(bf.select("qid", "nid"), Seq("qid", "nid"))
        .groupBy("qid").agg(count(lit(1)).as("hits"))
      q.select(col("vec_id").as("qid")).join(hits, Seq("qid"), "left")
        .select(col("qid"), (coalesce(col("hits"), lit(0L)) >= 2).cast("int").as("recall_ok"))
        .orderBy("qid")
    }),
    "q34_ann_ivfpq" -> ((s, dir) => {
      // IVF-PQ (by_residual, the FAISS default: codes quantize x − c(list),
      // measured 37/50 exact-top-5 hits vs 35/50 for raw encoding here) with
      // exact-cosine refine (q33's gate pattern): ADC ranks 16-byte codes
      // inside probed lists via dot(q,c) + ADC(code, LUT_q) over a
      // reconstructed norm, the top k·refine candidates re-rank against raw
      // vectors — returned sims are EXACT cosines, so quantization noise
      // never leaves the candidate stage. The gate is the same >= 2-of-top-5
      // as q33 because recall is bounded by LIST PROBING, not PQ: one
      // query's remaining true neighbors sit in unprobed lists at nprobe=6/16
      // regardless of code quality. Uniform random embeddings are the worst
      // case for both quantizers.
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val pq = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", k = 5,
        nlist = 16, nprobe = 6, m = 16, ksub = 32, refine = 8)
      val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
      // gate joins stay SMJ-planned — broadcast hints measured slower here
      // for the same reason as q33 (see note there)
      val hits = pq.select("qid", "nid")
        .join(bf.select("qid", "nid"), Seq("qid", "nid"))
        .groupBy("qid").agg(count(lit(1)).as("hits"))
      q.select(col("vec_id").as("qid")).join(hits, Seq("qid"), "left")
        .select(col("qid"), (coalesce(col("hits"), lit(0L)) >= 2).cast("int").as("recall_ok"))
        .orderBy("qid")
    }),
    "q35_ann_lsh_multiprobe" -> ((s, dir) => {
      // multi-probe LSH: q31's exact-bucket join misses queries whose true
      // neighbors sit one hyperplane away (46/50 result rows at sf0.01);
      // probing the `bits` one-flip buckets recovers them. The oracle is the
      // Hamming<=1 join — a pair matches exactly one probe, so the probe
      // expansion and the distance predicate are the same set.
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      Similarity.lshMultiProbeTopK(q, emb, "vec_id", "embedding", k = 5, bits = 6)
        .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    "q32_cosine_neardup" -> ((s, dir) => {
      // random embeddings have no near-dups; add scaled twins (cosine exactly 1)
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val twins = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), v => v * lit(1.5f)).as("embedding"))
      Similarity.cosineNearDups(emb.union(twins), "vec_id", "embedding",
        threshold = 0.999, bits = 6)
        .select("a", "b").orderBy("a", "b")
    }),

    // ───────────── text analysis ─────────────
    "q40_textstats" -> ((s, dir) =>
      // r7: stop-count via the native token_set_count kernel — same value as
      // size(filter(split(lower(text), " "), in stop set)) (empty split
      // tokens are never stopwords), without the interpreted HOF chain
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        TextStats.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        graft.functions.TextHashes.token_set_count(lower(col("text")),
          Seq("the", "of", "and", "a", "to", "in", "is", "for", "on", "with"))
          .cast("long").as("n_stop"))),
    "q41_quality" -> ((s, dir) => {
      val txt = col("text")
      val len = length(txt)
      val nWords = TextStats.wsTokenCount(txt)
      val nStop = graft.functions.TextHashes.token_set_count(lower(txt),
        Seq("the", "of", "and", "a", "to", "in", "is", "for", "on", "with"))
      val punct = TextStats.punctCount(txt)
      val lenScore = when(len.between(50, 10000), lit(4)).when(len.between(20, 50000), lit(2)).otherwise(lit(0))
      val stopScore = when(nStop * 20 > nWords, lit(3)).otherwise(lit(0))
      val punctScore = when(punct * 5 < len, lit(3)).otherwise(lit(0))
      t(s, dir, "documents").select(
        col("doc_id"), (lenScore + stopScore + punctScore).cast("long").as("quality_x10"))
    }),
    "q29_oov_rate" -> ((s, dir) => {
      // CCNet-style lexicon coverage: per-doc token count outside the
      // corpus's own top-256 vocabulary (frequency desc, word asc — the
      // deterministic tie-break is mirrored in the oracle). The vocab is one
      // bounded aggregation + driver collect; scoring is two single-pass
      // codegen'd kernels with a hashed vocabulary reference — no join.
      val docs = t(s, dir, "documents")
      val vocab = TextStats.topVocab(docs, "text", v = 256)
      val (total, oov) = TextStats.oovCounts(col("text"), vocab)
      // coalesce mirrors the oracle's LEFT JOIN + coalesce: a NULL text row
      // must score (0, 0), not (NULL, NULL) from the null-safe kernels
      docs.select(col("doc_id"),
        coalesce(total.cast("long"), lit(0L)).as("total_tokens"),
        coalesce(oov.cast("long"), lit(0L)).as("oov_tokens"))
    }),
    "q42_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), TextStats.langId(col("text")).as("lang_guess"))),
    "q43_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextStats.fingerprint(col("text")).as("fingerprint"),
        TextStats.bpeishTokenCount(col("text")).as("bpeish_tokens"))),

    // ───────────── event-stream analytics ─────────────
    "q50_events_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))),
    "q51_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("brk",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, lit(1))
            .otherwise(lit(0)))
        .withColumn("session_id", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("event_id", "user_id", "session_id")
    }),
    "q52_events_minmax" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), min(col("value")).as("min_value"), max(col("value")).as("max_value"))),

    "q53_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))),
    "q58_salted_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      graft.ops.Joins.salted(o, c, "c_custkey", salt = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    }),
    "q59_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.ops.Joins.asOf(clicks, purchases, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"), col("value_asof"))
    }),

    // ───────────── multimodal plumbing (stubbed codec; real Spark structure) ─────────────
    "q60_multimodal" -> ((s, dir) => {
      // image AND audio lanes decode for REAL: a deterministic JPEG / PCM16
      // WAV is synthesized per row, decoded back via javax.imageio /
      // javax.sound.sampled inside extractFeatures, and the decoded
      // dimensions (features 0/1) resp. frame count (feature 2) must equal
      // the metadata the oracle recomputes from doc_id. The video lane
      // remains a stubbed byte payload (disclosed in Multimodal's Scaladoc —
      // the JDK ships no video codec).
      Multimodal.extractFeatures(Multimodal.syntheticMediaReal(s, s"$dir/documents.parquet"))
        .toDF()
        .select(col("media_id"), col("kind"),
          when(col("kind") === "image", element_at(col("features"), 1).cast("long"))
            .otherwise(lit(-1L)).as("decoded_w"),
          when(col("kind") === "image", element_at(col("features"), 2).cast("long"))
            .otherwise(lit(-1L)).as("decoded_h"),
          when(col("kind") === "audio", element_at(col("features"), 3).cast("long"))
            .otherwise(lit(-1L)).as("decoded_frames"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_join_broadcast" ->
      """SELECT n_name, count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q03_window" ->
      """SELECT event_id, user_id,
        | row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        | lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |FROM events""".stripMargin,
    "q04_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q05_filter_pushdown" ->
      """SELECT l_returnflag, count(*) AS cnt FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_quantity < 25
        |GROUP BY l_returnflag""".stripMargin,
    "q06_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q07_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q08_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin,
    "q09_set_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,
    "q10_extract_html" ->
      "SELECT doc_id, text AS extracted_text FROM documents",
    "q11_extract_svg" ->
      "SELECT doc_id, text AS extracted_text FROM documents",
    "q12_extract_pdf" ->
      "SELECT doc_id, text AS extracted_text FROM documents",
    "q13_pipeline_e2e" ->
      """SELECT 'conv_' || lpad(CAST(doc_id % 50 AS VARCHAR), 4, '0') AS conv_id,
        | CAST(doc_id // 50 AS INT) AS turn_idx, text AS extracted_text
        |FROM documents""".stripMargin,
    "q14_spans" ->
      """SELECT doc_id, CAST(0 AS BIGINT) AS span_start, length(text) AS span_end,
        | 'html>body>div>p' AS label FROM documents""".stripMargin,
    "q15_ordering" ->
      """SELECT 'conv_' || lpad(CAST(doc_id % 50 AS VARCHAR), 4, '0') AS conv_id,
        | CAST(doc_id // 50 AS INT) AS turn_idx,
        | row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id // 50) AS rn
        |FROM documents""".stripMargin,
    "q49_extract_markdown" ->
      "SELECT doc_id, text AS extracted_text FROM documents",
    "q16_sql_extract" ->
      "SELECT doc_id, text AS extracted_text FROM documents",
    "q18_pdf_file_ingest" ->
      """WITH raw AS (
        |  SELECT regexp_extract(filename, '([^/]+)\.pdf\.expected', 1) AS paper, content
        |  FROM read_text('/root/reference/src/test/resources/output/*.pdf.expected/tspan-texts.txt')
        |), entries AS (
        |  SELECT paper,
        |    unnest(string_split(rtrim(content, chr(10)), chr(10) || chr(10))) AS entry,
        |    generate_subscripts(string_split(rtrim(content, chr(10)), chr(10) || chr(10)), 1) AS idx
        |  FROM raw)
        |SELECT paper, CAST(idx - 1 AS BIGINT) AS entry_idx,
        |  replace(entry, ' ', '') AS entry_nospace
        |FROM entries""".stripMargin,
    "q19_pdf_metadata" ->
      """SELECT * FROM (VALUES
        | ('1301.4293', 'Author', ''),
        | ('1301.4293', 'CreationDate', 'D:20130128202022-05''00'''),
        | ('1301.4293', 'Creator', 'LaTeX with hyperref package'),
        | ('1301.4293', 'Keywords', ''),
        | ('1301.4293', 'ModDate', 'D:20130128202022-05''00'''),
        | ('1301.4293', 'Producer', 'dvips + GPL Ghostscript GIT PRERELEASE 9.05'),
        | ('1301.4293', 'Subject', ''),
        | ('1301.4293', 'Title', ''),
        | ('1301.4293', '__xmp_chars', '1565'),
        | ('1301.4293', '__xmp_md5', 'a5f92bc33ead122e33ccc3a2f43ebf1f'),
        | ('C04-1204', 'Producer', 'GNU Ghostscript 6.51'),
        | ('test24', 'CreationDate', 'D:20140326144630-04''00'''),
        | ('test24', 'Creator', 'PDFplus'),
        | ('test24', 'ModDate', 'D:20140402001426-05''00'''),
        | ('test24', 'Producer', 'Atypon Systems, Inc.'),
        | ('test24', 'Title', 'Synthesis, Structures, Polymorphism, and Magnetic Properties of Transition Metal Thiocyanato Coordination Compounds'),
        | ('test24', '__xmp_chars', '3197'),
        | ('test24', '__xmp_md5', '8388ab2298d27a33b29712663fdbbf4b'),
        | ('test25', 'CreationDate', 'D:20140319044808+08''00'''),
        | ('test25', 'Creator', '3B2 Total Publishing System 8.07e/W Unicode '),
        | ('test25', 'ModDate', 'D:20140319094533+08''00'''),
        | ('test25', 'Producer', 'Acrobat Distiller 9.5.0 (Windows)'),
        | ('test25', 'Title', ''),
        | ('test25', '__xmp_chars', '8998'),
        | ('test25', '__xmp_md5', '19c1a0c1815bb4f3384b8ecf07855aa8')
        |) AS t(paper, meta_key, meta_value)""".stripMargin,
    "q19b_pdf_exact_floor" ->
      """SELECT * FROM (VALUES
        | ('1301.4293', 1), ('C04-1204', 1), ('test24', 1), ('test25', 1)
        |) AS t(paper, exact_floor_ok)""".stripMargin,
    "q62_pdf_text_items" ->
      """SELECT * FROM (VALUES
        | ('1301.4293', 1, 118, '1b193ff8966f45571faa19d1f6b0c48b'),
        | ('1301.4293', 2, 310, 'ec41570a74102ca7f6d190c0da27c183'),
        | ('1301.4293', 3, 113, 'e029aa4c20922fe3356b1a6e18276aed'),
        | ('1301.4293', 4, 44, 'bf6e281e41b7513ef0539fafa8792396'),
        | ('C04-1204', 1, 648, '20924649ef98b695529248a272e6c6b9'),
        | ('C04-1204', 2, 740, 'dc76e1c28b9fc89ba43b3f8dc3179d66'),
        | ('C04-1204', 3, 623, '875d145d255c77c42218868b98288a55'),
        | ('C04-1204', 4, 725, '068b32e9cc55657c57822a10ac2d2848'),
        | ('C04-1204', 5, 787, 'd96e17f32c99d4aae687626d5b83bb50'),
        | ('C04-1204', 6, 695, '772b43a67f8559a9c93fff3537795b35'),
        | ('C04-1204', 7, 625, 'c5b881d58caf70e7ec5737bbd35613b7'),
        | ('test24', 1, 245, '1b11dcaf231c0be2a64a3598fb780b66'),
        | ('test24', 2, 528, 'd63508ef85c31af08f067c699261e211'),
        | ('test24', 3, 391, 'b72d81990930a90904b959afff239e6b'),
        | ('test24', 4, 463, '00aaea1104b7280a4c485a0e2db3c58a'),
        | ('test24', 5, 206, '3222e0d95b261fa30569d12204a5339e'),
        | ('test24', 6, 244, '12ed870c9a152d1d3059a0e0249103b1'),
        | ('test24', 7, 162, 'ff147f961bbd1f841b18392877d73a8d'),
        | ('test24', 8, 220, 'ac5acb57ed4c39fbfb0bfe3078d23ced'),
        | ('test24', 9, 296, '979201d688b6b0d25cfc9516cbb2e1b0'),
        | ('test24', 10, 175, 'aad3954ff632aa0a3902808043024844'),
        | ('test24', 11, 388, '6fd405af5646a9527cba343d63630dfa'),
        | ('test24', 12, 493, '3643581c36cf9bfcd8c7e49c34ca3807'),
        | ('test25', 1, 279, '4c32bf86000fd0dd562d21bf6ea712ea'),
        | ('test25', 2, 139, '4f6b6daa3d767632ccb12a5461968083'),
        | ('test25', 3, 132, '63895249fc1578ec32272b855bf990fc'),
        | ('test25', 4, 85, '5252f54111f259ca5ca38c45c2f99a56'),
        | ('test25', 5, 141, '506870b550f5be7fc8d505ff17c0f080'),
        | ('test25', 6, 390, '8d0dfa27eb8fb69a1153e4c803daa071'),
        | ('test25', 7, 151, 'a115c53d002206042a3d5e6f39f500da')
        |) AS t(paper, page, n_items, items_md5)""".stripMargin,
    "q65_pdf_outline" ->
      """SELECT * FROM (VALUES
        | ('1301.4293', 0, 0, '1 Introduction', 'section.1', '', '0,0,0', '', false, false, 0),
        | ('1301.4293', 1, 0, '2 Model', 'section.2', '', '0,0,0', '', false, false, 1),
        | ('1301.4293', 2, 0, '3 Experiments', 'section.3', '', '0,0,0', '', false, false, 1),
        | ('1301.4293', 3, 0, '4 Conclusion', 'section.4', '', '0,0,0', '', false, false, 2),
        | ('C04-1204', -1, -1, '', '', '', '', '', false, false, -1),
        | ('test24', -1, -1, '', '', '', '', '', false, false, -1),
        | ('test25', 0, 0, 'Solid-state synthesis of graphite carbon-coated Li4Ti5O12 anode for lithium ion batteries', 'maintitle', '', '0,0,0', '8', false, false, 0),
        | ('test25', 1, 1, 'Abstract', 'Section11', '', '0,0,0', '0', false, false, 0),
        | ('test25', 2, 1, 'Introduction', 'Section12', '', '0,0,0', '0', false, false, 0),
        | ('test25', 3, 1, 'Experimental', 'Section13', '', '0,0,0', '0', false, false, 1),
        | ('test25', 4, 1, 'Results and discussion', 'Section14', '', '0,0,0', '2', false, false, 1),
        | ('test25', 5, 2, 'Morphology characterization and phase identification', 'Section25', '', '0,0,0', '0', false, false, 1),
        | ('test25', 6, 2, 'Electrochemical performance', 'Section26', '', '0,0,0', '0', false, false, 3),
        | ('test25', 7, 1, 'Conclusions', 'Section17', '', '0,0,0', '0', false, false, 4),
        | ('test25', 8, 1, 'References', 'Section18', '', '0,0,0', '0', false, false, 5),
        | ('2839', 0, 0, 'New ferromagnets of Sr8ARe3Cu4O24 (A=Sr, Ca) with an ordered perovskite structure', 'Title1', '', '0,0,0', '8', false, false, 0),
        | ('2839', 1, 1, 'Introduction', 'A1', '', '0,0,0', '', false, false, 0),
        | ('2839', 2, 1, 'Experimental', 'A2', '', '0,0,0', '', false, false, 0),
        | ('2839', 3, 1, 'Results and discussion', 'A3', '', '0,0,0', '2', false, false, 1),
        | ('2839', 4, 2, 'Synthesis, phase identification and structure analysis', 'B1', '', '0,0,0', '', false, false, 1),
        | ('2839', 5, 2, 'Magnetic properties', 'B2', '', '0,0,0', '', false, false, 3),
        | ('2839', 6, 1, 'Conclusion', 'A4', '', '0,0,0', '', false, false, 5),
        | ('2839', 7, 1, 'Acknowledgements', 'ACK', '', '0,0,0', '', false, false, 5),
        | ('2839', 8, 1, 'References', 'REF', '', '0,0,0', '', false, false, 5),
        | ('outline_url', 0, 0, 'Site', '', 'https://example.org/p', '0,127,255', '', true, true, -1),
        | ('outline_url', 1, 0, 'Here', 'ref:4_0,name:XYZ,10,20,null', '', '0,0,0', '', false, false, 1)
        |) AS t(paper, ord, depth, title, dest, url, color, cnt, bold, italic, dest_page)""".stripMargin,
    "q66_named_dests" ->
      """SELECT * FROM (VALUES
        | ('1301.4293', 28, '5485749e61e5ca9291a9590c0211366f'),
        | ('C04-1204', 0, 'd41d8cd98f00b204e9800998ecf8427e'),
        | ('test24', 217, '1abc7a3f73b98731dcb90489e5f366f6'),
        | ('test25', 74, '29ac560074b8a2dc6ae70095738cdd58'),
        | ('2839', 30, '6c0ddb96f42301fe9394afd8b5ad6388')
        |) AS t(paper, n_dests, dests_md5)""".stripMargin,
    "q67_pdf_attachments" ->
      """SELECT * FROM (VALUES
        | ('1301.4293', '', '', -1, ''),
        | ('C04-1204', '', '', -1, ''),
        | ('test24', '', '', -1, ''),
        | ('test25', '', '', -1, ''),
        | ('2839', '', '', -1, ''),
        | ('attach', 'att1', 'a/b/c.txt', 64, '7160b8fb5e9e4023d549c3971fbaeead'),
        | ('attach', 'file2.bin', 'file2.bin', 17, '17b8f931068345055c3e719aab14f158'),
        | ('attach', 'noef', 'orphan.txt', -1, '')
        |) AS t(paper, name, filename, clen, cmd5)""".stripMargin,
    "q68_pdf_javascript" ->
      """SELECT * FROM (VALUES
        | ('1301.4293', -1, ''),
        | ('C04-1204', -1, ''),
        | ('test24', -1, ''),
        | ('test25', -1, ''),
        | ('2839', -1, ''),
        | ('js', 0, 'app.alert(1);'),
        | ('js', 1, 'console.println(''x'');'),
        | ('js', 2, 'print({});'),
        | ('jsopen', 0, 'open();')
        |) AS t(paper, ord, js)""".stripMargin,
    "q70_pdf_annotations" ->
      """SELECT * FROM (VALUES
        | ('1301.4293', 1, 8, '29abb728f5c7fe4918b0e9daf1195493'),
        | ('1301.4293', 2, 5, '75eb7d772ceadb874c9bbda9df45a944'),
        | ('1301.4293', 3, 3, '7d4f1f6ed20c00d02b127356b28bf173'),
        | ('C04-1204', -1, 0, ''),
        | ('test24', 1, 33, '500370cb2636af22a7287be0d5ea231c'),
        | ('test24', 2, 12, 'abb71d6d91ec84fffa0a0d740590ea24'),
        | ('test24', 4, 26, '0f47de54b148e87158cedd998cb7d202'),
        | ('test24', 5, 19, '8ff77ea9b23d9857cab9e91dbf6bcf75'),
        | ('test24', 6, 15, 'b367b2ef4e6beaa1eb7e0e0f1718096e'),
        | ('test24', 7, 13, '6603284251cb35ba60a4d9c34c9f76da'),
        | ('test24', 8, 9, '8b16e1113493cf6a77ada50133bee736'),
        | ('test24', 9, 15, 'cfb80a2ad9c756b1a09ded5f3b130e61'),
        | ('test24', 10, 12, 'e3f7f9367300a751e96a0dfd215ba61f'),
        | ('test24', 11, 3, '4a50aea3e04ed95696993c70088cbbe0'),
        | ('test25', 1, 30, '2df85d316a54ddeaba6414c406867dc6'),
        | ('test25', 2, 1, '2dc13f4022376359b46a2e7f212a960e'),
        | ('test25', 3, 10, 'e2a6b4086fe4745860b494276830b26d'),
        | ('test25', 4, 10, '509a5b61273a4f9b2f626085cabb4d6a'),
        | ('test25', 5, 8, 'e20594946196cda6a07d7642fcc39144'),
        | ('test25', 6, 2, '95b6a91969f0cec66e818d24a6a68c59'),
        | ('test25', 7, 1, '0861518998d932033d49a22f9a326bb4'),
        | ('2839', 1, 6, '3cda6dff66cff74872a9fb344a0f7a0b'),
        | ('2839', 2, 7, 'a2979488ca6fda1ca43f960806964cec'),
        | ('2839', 3, 5, '350c0b08db754f3e5387122773e5def3'),
        | ('2839', 4, 8, 'e2657732f8fb08078d80e8de36124939'),
        | ('2839', 5, 1, '718e2a348f42a5fa894812de7c2623a4'),
        | ('2839', 6, 3, '5f7206825f437aa11ff608504579b64e')
        |) AS t(paper, page, n_annots, annots_md5)""".stripMargin,
    "q71_streaming_sessions" ->
      """WITH mx AS (SELECT epoch_ms(max(ts)) AS m_ms FROM events)
        |SELECT CAST(user_id AS VARCHAR) AS conv_id,
        |       COUNT(*) AS turns,
        |       CAST(SUM(LENGTH(props)) AS BIGINT) AS chars,
        |       epoch_ms(epoch_ms(MIN(ts))) AS first_ts,
        |       epoch_ms(epoch_ms(MAX(ts))) AS last_ts
        |FROM events, mx
        |GROUP BY user_id, mx.m_ms
        |HAVING epoch_ms(MAX(ts)) + 1800000 < mx.m_ms - 1800000""".stripMargin,
    "q72_streaming_dedup" ->
      """SELECT CAST(user_id AS VARCHAR) AS conv_id,
        |       CAST(event_id AS INT) AS turn_idx,
        |       event_type AS role,
        |       md5(props) AS text_md5,
        |       ts
        |FROM events""".stripMargin,
    "q73_streaming_windows" ->
      """WITH mx AS (SELECT epoch_ms(max(ts)) AS m_ms FROM events)
        |SELECT date_trunc('minute', ts) AS wstart,
        |       event_type AS role,
        |       COUNT(*) AS turns
        |FROM events, mx
        |GROUP BY date_trunc('minute', ts), event_type, mx.m_ms
        |HAVING epoch_ms(date_trunc('minute', ts)) + 60000 <= mx.m_ms - 300000""".stripMargin,
    "q69_pdf_fingerprint" ->
      """SELECT * FROM (VALUES
        | ('1301.4293', '9605231df768918a8dc5a1b770bff72e'),
        | ('C04-1204', 'e2ad24e5cb021ebfbc52ffa6449933bb'),
        | ('test24', 'c37dbdcbecd3bbbef8e50f83bd0d4ef7'),
        | ('test25', 'eb7e9f8123febb91b7c47bffa44269b5'),
        | ('2839', '3b70f2b8de5cb59e6a3462073141096f')
        |) AS t(paper, fingerprint)""".stripMargin,
    "q64_page_labels" ->
      """SELECT * FROM (VALUES
        | ('1301.4293', -1, ''),
        | ('C04-1204', -1, ''),
        | ('test25', -1, ''),
        | ('test24', 0, '1'), ('test24', 1, '2'), ('test24', 2, '3'),
        | ('test24', 3, '4'), ('test24', 4, '5'), ('test24', 5, '6'),
        | ('test24', 6, '7'), ('test24', 7, '8'), ('test24', 8, '9'),
        | ('test24', 9, '10'), ('test24', 10, '11'), ('test24', 11, '12'),
        | ('2839', 0, '1'), ('2839', 1, '2'), ('2839', 2, '3'),
        | ('2839', 3, '4'), ('2839', 4, '5'), ('2839', 5, '6'),
        | ('labels_mixed', 0, 'i'), ('labels_mixed', 1, 'ii'),
        | ('labels_mixed', 2, '1'), ('labels_mixed', 3, '2'),
        | ('labels_mixed', 4, '3'), ('labels_mixed', 5, 'A-1'),
        | ('labels_mixed', 6, 'A-2'),
        | ('labels_letters', 0, 'Z'), ('labels_letters', 1, 'AA'),
        | ('labels_letters', 2, 'BB'),
        | ('labels_kids', 0, 'i'), ('labels_kids', 1, 'ii'),
        | ('labels_kids', 2, '1'), ('labels_kids', 3, '2'),
        | ('labels_malformed', -1, '')
        |) AS t(paper, page, label)""".stripMargin,
    "q63_pdf_text_styles" ->
      """SELECT * FROM (VALUES
        | ('1301.4293', 1, 118, 2, '5befe135e7e30addbd6204eafc58e9c5', '171a1b32ff883c4e9f41f57c369d9940'),
        | ('1301.4293', 2, 310, 14, 'f6168d978e910b70271a7f760375b38a', 'af51d0a7c68bc8c5251b3612b7e82862'),
        | ('1301.4293', 3, 113, 1, 'bda8d89d89b9bfe01a7f10c01a3fc86b', 'e3ad992c609f74d3e722165b439edde1'),
        | ('1301.4293', 4, 44, 1, '5f511657cae8adeb293a185bff98036d', 'e3ad992c609f74d3e722165b439edde1'),
        | ('C04-1204', 1, 648, 2, '229543b52cdc3a9e9679bc61b174b483', '171a1b32ff883c4e9f41f57c369d9940'),
        | ('C04-1204', 2, 740, 3, 'a554b2c5ed066fd6c15586cfe5bfea2b', '9e577fe626fec236686b64eb9196feca'),
        | ('C04-1204', 3, 623, 3, '50a1e2ac34b043d130a2d9df4ce3d626', '26bd515eea30c3b4535572671f9030b5'),
        | ('C04-1204', 4, 725, 4, '5854d6777843d683992fec5f3233343d', 'bcdd6e0a8cd2424bac1f3cf96078bd4a'),
        | ('C04-1204', 5, 787, 6, 'd8ed112ce702b5137f2011ddc2570921', '80b1e60e2bf3c8b33ae254de1b36c503'),
        | ('C04-1204', 6, 695, 3, '49a54f8918d38017bc015f21a8882177', '986b282157017378d15b9f0dcb2fdf3f'),
        | ('C04-1204', 7, 625, 1, '855898e7a1bc572ae7fddbb2493c223d', 'e3ad992c609f74d3e722165b439edde1'),
        | ('test24', 1, 245, 16, 'c15b5fd75468c7ec7fa8c1a3fd42c1f2', '23cb60d3cb6bb809be31fbf5e2883282'),
        | ('test24', 2, 528, 16, '1be940c03040506485e304bafa54bd76', '9e1125da947118a43994b660b56eb4d8'),
        | ('test24', 3, 391, 11, '13157551a49629b07bc81c9297ac5fc3', '6e541dcdb28ea06b8df279434642d8ff'),
        | ('test24', 4, 463, 12, '28e908df4e8c2adb7e19f894bb146407', '8a7ddfa100551eb9977e5c3275925ffb'),
        | ('test24', 5, 206, 12, 'd5926178348060364c85363912eca4d6', 'b2a363aa23167b725f02670d44d888d4'),
        | ('test24', 6, 244, 11, 'ba9225591b55b690c7b812ddd111a1ee', 'e4caa6386aec98ffaac08874c7cdbca5'),
        | ('test24', 7, 162, 10, '326149d70e27b2c0dd1367c1911352e2', '92bc688d3555cda17fe9e8e278fc2163'),
        | ('test24', 8, 220, 9, '040325d25ac385dfb5d2336ebc9a1d1f', '15597dfc5190cc140538a3583e6b72e3'),
        | ('test24', 9, 296, 12, 'e4372a4e67ae4c096765c8abf2723ab2', 'd6ed2792123d0d1272aae89e650e3acb'),
        | ('test24', 10, 175, 11, 'fc04ccf2e92b890ddbb9a339600eb3fe', '5b482e5bc8fc326bddc5bd2568effe4a'),
        | ('test24', 11, 388, 15, 'cb8d6648e102665dc0f3628315880d71', 'f04d36e8feb704cf8f0615acfff32fd2'),
        | ('test24', 12, 493, 10, 'e9ba6ec892f605fffea26adf9f19cf3f', '547c52a0fcdc7b1e791755e34d827f5f'),
        | ('test25', 1, 279, 8, '6356cd13d6bf28f85bc2f71bf8edd425', 'b931d11634545f064290c91e8c56688f'),
        | ('test25', 2, 139, 6, '0e5fa1f34aae09052084db09b8336f37', '81c5a37702b68a4a6f8d9d219285056f'),
        | ('test25', 3, 132, 3, '375fb48d24c0b44c2dd7f9884f51d3a2', '3df43282daf5e1737cfdf5b517281344'),
        | ('test25', 4, 85, 3, 'f8539a9a4d33913dd061389aa71f7ec1', '3df43282daf5e1737cfdf5b517281344'),
        | ('test25', 5, 141, 6, '932a81481984d870412dc039db5a4482', 'b31a4296dfd0a991865a01f3aea4c50f'),
        | ('test25', 6, 390, 5, 'd55e449f7a9610652c8859cf30a6b60f', 'e023ad6c7e702794dccb7b27221aeb49'),
        | ('test25', 7, 151, 2, 'b9da9c851e7d66b08ff347d2aa8a1179', '132356a69242b80e60c675c4c04ef5ac')
        |) AS t(paper, page, n_items, n_styles, names_md5, styles_md5)""".stripMargin,
    "q61_pdf_images" ->
      """SELECT * FROM (VALUES
        | ('jbig2', 0, 'ImJ', 64, 48, 1, 'DeviceGray', 'JBIG2Decode', 64, 48, 3, 158),
        | ('jbig2text', 0, 'ImJ', 40, 24, 1, 'DeviceGray', 'JBIG2Decode', 40, 24, 3, 231),
        | ('jbig2glob', 0, 'ImJ', 40, 24, 1, 'DeviceGray', 'JBIG2Decode', 40, 24, 3, 231),
        | ('jbig2mmr', 0, 'ImJ', 64, 48, 1, 'DeviceGray', 'JBIG2Decode', 64, 48, 3, 158),
        | ('jbig2huff', 0, 'ImJ', 40, 24, 1, 'DeviceGray', 'JBIG2Decode', 40, 24, 3, 231),
        | ('jbig2ht', 0, 'ImJ', 48, 32, 1, 'DeviceGray', 'JBIG2Decode', 48, 32, 3, 128),
        | ('jbig2htmmr', 0, 'ImJ', 48, 32, 1, 'DeviceGray', 'JBIG2Decode', 48, 32, 3, 128),
        | ('jbig2huffref', 0, 'ImJ', 40, 24, 1, 'DeviceGray', 'JBIG2Decode', 40, 24, 3, 230),
        | ('jbig2refine', 0, 'ImJ', 40, 24, 1, 'DeviceGray', 'JBIG2Decode', 40, 24, 3, 174),
        | ('jpx', 0, 'ImX', 64, 48, 8, 'DeviceGray', 'JPXDecode', 64, 48, 3, 95),
        | ('jpxrgb', 0, 'ImX', 64, 48, 8, 'DeviceRGB', 'JPXDecode', 64, 48, 3, 108),
        | ('jpx97', 0, 'ImX', 64, 48, 8, 'DeviceGray', 'JPXDecode', 64, 48, 3, 95),
        | ('jpxjp2', 0, 'ImX', 64, 48, 8, 'DeviceGray', 'JPXDecode', 64, 48, 3, 95),
        | ('jpx420', 0, 'ImX', 64, 48, 8, 'DeviceRGB', 'JPXDecode', 64, 48, 3, 108),
        | ('jpxprec', 0, 'ImX', 64, 48, 8, 'DeviceGray', 'JPXDecode', 64, 48, 3, 95),
        | ('jpxstyles', 0, 'ImX', 64, 48, 8, 'DeviceGray', 'JPXDecode', 64, 48, 3, 95),
        | ('jpxroi', 0, 'ImX', 64, 48, 8, 'DeviceGray', 'JPXDecode', 64, 48, 3, 95),
        | ('jpxoff', 0, 'ImX', 64, 48, 8, 'DeviceGray', 'JPXDecode', 64, 48, 3, 95),
        | ('jpxtile', 0, 'ImX', 64, 48, 8, 'DeviceGray', 'JPXDecode', 64, 48, 3, 95),
        | ('test24', 0, 'Im1', 353, 274, 8, 'DeviceRGB', 'DCTDecode', 353, 274, 3, 204),
        | ('test24', 4, 'Im2', 497, 345, 8, 'DeviceRGB', 'DCTDecode', 497, 345, 3, 242),
        | ('test24', 4, 'Im3', 496, 291, 8, 'DeviceRGB', 'DCTDecode', 496, 291, 3, 238),
        | ('test24', 4, 'Im4', 447, 347, 8, 'DeviceRGB', 'DCTDecode', 447, 347, 3, 242),
        | ('test24', 5, 'Im5', 644, 464, 8, 'DeviceRGB', 'DCTDecode', 644, 464, 3, 245),
        | ('test24', 6, 'Im6', 429, 662, 8, 'DeviceRGB', 'DCTDecode', 429, 662, 3, 242),
        | ('test24', 6, 'Im7', 415, 320, 8, 'DeviceRGB', 'DCTDecode', 415, 320, 3, 246),
        | ('test24', 6, 'Im8', 421, 656, 8, 'DeviceRGB', 'DCTDecode', 421, 656, 3, 244),
        | ('test24', 7, 'Im10', 416, 319, 8, 'DeviceRGB', 'DCTDecode', 416, 319, 3, 240),
        | ('test24', 7, 'Im9', 422, 515, 8, 'DeviceRGB', 'DCTDecode', 422, 515, 3, 240),
        | ('test24', 8, 'Im11', 622, 472, 8, 'DeviceRGB', 'DCTDecode', 622, 472, 3, 244),
        | ('test24', 9, 'Im12', 460, 667, 8, 'DeviceRGB', 'DCTDecode', 460, 667, 3, 232),
        | ('test24', 9, 'Im13', 453, 687, 8, 'DeviceRGB', 'DCTDecode', 453, 687, 3, 235),
        | ('test24', 9, 'Im14', 347, 249, 8, 'DeviceRGB', 'DCTDecode', 347, 249, 3, 239),
        | ('test24', 10, 'Im15', 442, 337, 8, 'DeviceRGB', 'DCTDecode', 442, 337, 3, 242),
        | ('test25', 0, 'X1', 1100, 90, 1, '', 'FlateDecode', 1100, 90, 3, 217),
        | ('test25', 1, 'Im2', 769, 842, 8, 'ICCBased', 'FlateDecode', 769, 842, 3, 233),
        | ('test25', 2, 'Im3', 2056, 381, 8, 'DeviceGray', 'DCTDecode', 2056, 381, 1, 155),
        | ('test25', 2, 'Im4', 1775, 586, 8, 'DeviceGray', 'DCTDecode', 1775, 586, 1, 179),
        | ('test25', 3, 'Im5', 1539, 1141, 1, '', 'CCITTFaxDecode', 1539, 1141, 3, 232),
        | ('test25', 3, 'Im6', 769, 512, 8, 'ICCBased', 'FlateDecode', 769, 512, 3, 232),
        | ('test25', 3, 'Im7', 992, 574, 8, 'ICCBased', 'FlateDecode', 992, 574, 3, 232),
        | ('test25', 3, 'Im8', 992, 568, 8, 'ICCBased', 'FlateDecode', 992, 568, 3, 233),
        | ('test25', 4, 'Im10', 769, 516, 8, 'ICCBased', 'FlateDecode', 769, 516, 3, 239),
        | ('test25', 4, 'Im11', 769, 520, 8, 'ICCBased', 'DCTDecode', 769, 520, 3, 230),
        | ('test25', 4, 'Im9', 769, 558, 8, 'ICCBased', 'FlateDecode', 769, 558, 3, 238),
        | ('2839', 0, 'Im1', 369, 500, 1, '', 'CCITTFaxDecode', 369, 500, 3, 213),
        | ('2839', 0, 'Im2', 267, 212, 8, 'DeviceGray', 'DCTDecode', 267, 212, 1, 227),
        | ('2839', 0, 'Im3', 1399, 285, 1, '', 'CCITTFaxDecode', 1399, 285, 3, 228),
        | ('2839', 1, 'Im4', 1950, 1479, 1, '', 'CCITTFaxDecode', 1950, 1479, 3, 243),
        | ('2839', 2, 'Im5', 835, 414, 8, 'DeviceGray', 'DCTDecode', 835, 414, 1, 97),
        | ('2839', 2, 'Im6', 652, 961, 8, 'DeviceGray', 'DCTDecode', 652, 961, 1, 238),
        | ('2839', 3, 'Im7', 2501, 1992, 1, '', 'CCITTFaxDecode', 2501, 1992, 3, 241),
        | ('2839', 4, 'Im10', 1950, 1872, 1, '', 'CCITTFaxDecode', 1950, 1872, 3, 252),
        | ('2839', 4, 'Im8', 2501, 1572, 1, '', 'CCITTFaxDecode', 2501, 1572, 3, 245),
        | ('2839', 4, 'Im9', 1950, 1634, 1, '', 'CCITTFaxDecode', 1950, 1634, 3, 237)
        |) AS t(paper, page, name, width, height, bpc, color_space, filter,
        |       dec_w, dec_h, dec_bands, gray_mean)""".stripMargin,
    "q20_dedup_exact" ->
      "SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text",
    "q17_conv_rollup" ->
      """SELECT 'conv_' || lpad(CAST(doc_id % 50 AS VARCHAR), 4, '0') AS conv_id,
        | count(*) AS turns, CAST(sum(length(text)) AS BIGINT) AS chars,
        | CAST(max(doc_id // 50) AS INT) AS max_turn_idx
        |FROM documents GROUP BY 1""".stripMargin,
    "q24_dedup_norm" ->
      "SELECT min(doc_id) AS doc_id, lower(text) AS norm FROM documents GROUP BY lower(text)",
    "q25_fingerprint_pairs" ->
      graft.oracle.SketchSql.winnowPairsOracle(k = 24, w = 12, minShared = 2),
    "q26_dedup_clusters" ->
      graft.oracle.SketchSql.winnowComponentsOracle(k = 24, w = 12, minShared = 2),
    "q26b_dedup_clusters_dist" ->
      graft.oracle.SketchSql.winnowComponentsOracle(k = 24, w = 12, minShared = 2),
    "q36_substring_dedup" ->
      graft.oracle.SketchSql.substringDedupOracle(l = 15, minDocs = 2, snip = 25),
    "q36b_substring_dedup_bloom" ->
      graft.oracle.SketchSql.substringDedupOracle(l = 15, minDocs = 2, snip = 25),
    "q37_semantic_dedup" -> {
      val sig = graft.oracle.SketchSql.lshSignatureExpr("v", 6)
      s"""WITH RECURSIVE un AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id,
         |    list_transform(embedding, x -> CAST(x * CAST(1.5 AS FLOAT) AS FLOAT)) AS embedding
         |  FROM embeddings WHERE vec_id < 20),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM un),
         |sigs AS (SELECT vec_id, v, $sig AS sig FROM e),
         |prs AS (
         |  SELECT l.vec_id AS a, r.vec_id AS b
         |  FROM sigs l JOIN sigs r ON l.sig = r.sig AND l.vec_id < r.vec_id
         |  WHERE list_dot_product(l.v, l.v) > 0 AND list_dot_product(r.v, r.v) > 0
         |    AND list_dot_product(l.v, r.v) /
         |        (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))) >= 0.999),
         |ce AS (SELECT a AS u, b AS v FROM prs UNION SELECT b, a FROM prs),
         |reach(id, r) AS (
         |  SELECT u, u FROM ce
         |  UNION
         |  SELECT t.id, c2.v FROM reach t JOIN ce c2 ON t.r = c2.u),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         |SELECT s.vec_id, coalesce(c.component, s.vec_id) AS cluster,
         |  CAST(CASE WHEN coalesce(c.component, s.vec_id) = s.vec_id THEN 1 ELSE 0 END AS BIGINT) AS survivor
         |FROM (SELECT vec_id FROM un) s LEFT JOIN comp c ON s.vec_id = c.id""".stripMargin
    },
    "q27_stratified_sample" -> {
      val rank = graft.oracle.SketchSql.toSigned(
        graft.oracle.SketchSql.mix64("doc_id::UBIGINT"))
      s"""SELECT doc_id, stratum FROM (
         |  SELECT doc_id, doc_id % 50 AS stratum,
         |    row_number() OVER (PARTITION BY doc_id % 50 ORDER BY $rank, doc_id) AS rn
         |  FROM documents) t WHERE rn <= 3""".stripMargin
    },
    "q28_pack_sequences" -> {
      val toks = graft.oracle.SketchSql.bpeishToksExpr("d.text")
      s"""WITH RECURSIVE src AS (
         |  SELECT doc_id % 50 AS conv, doc_id, CAST($toks AS BIGINT) AS tokens,
         |    row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id) AS rn
         |  FROM documents d),
         |pack(conv, doc_id, tokens, rn, acc, seq_idx) AS (
         |  SELECT conv, doc_id, tokens, rn, tokens, CAST(0 AS BIGINT) FROM src WHERE rn = 1
         |  UNION ALL
         |  SELECT s.conv, s.doc_id, s.tokens, s.rn,
         |    CASE WHEN p.acc > 0 AND p.acc + s.tokens > 500 THEN s.tokens ELSE p.acc + s.tokens END,
         |    CASE WHEN p.acc > 0 AND p.acc + s.tokens > 500 THEN p.seq_idx + 1 ELSE p.seq_idx END
         |  FROM pack p JOIN src s ON s.conv = p.conv AND s.rn = p.rn + 1)
         |SELECT conv, doc_id, tokens, seq_idx FROM pack""".stripMargin
    },
    "q29_oov_rate" ->
      """WITH wd AS (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS w
        |  FROM documents),
        |vocab AS (SELECT w FROM wd GROUP BY w ORDER BY count(*) DESC, w LIMIT 256),
        |cnt AS (SELECT doc_id, count(*) AS total,
        |        sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 1 ELSE 0 END) AS known
        |        FROM wd GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(c.total, 0) AS BIGINT) AS total_tokens,
        |  CAST(coalesce(c.total - c.known, 0) AS BIGINT) AS oov_tokens
        |FROM documents d LEFT JOIN cnt c USING (doc_id)""".stripMargin,
    "q47_decontaminate" ->
      graft.oracle.SketchSql.decontaminateOracle(shingleK = 8, benchMod = 97),
    "q48_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws FROM documents),
        |b AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bg
        |  FROM w WHERE len(ws) >= 2),
        |c AS (SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY doc_id, bg),
        |m AS (SELECT doc_id, max(cnt) AS mx, sum(cnt) AS total FROM c GROUP BY doc_id)
        |SELECT w.doc_id, coalesce(CAST(m.mx AS DOUBLE) / m.total, 0.0) AS top_bigram_share
        |FROM w LEFT JOIN m USING (doc_id)""".stripMargin,
    "q21_dedup_minhash" ->
      graft.oracle.SketchSql.minhashNearDupsOracle(shingleK = 3, numHashes = 64, bands = 16, threshold = 0.8),
    "q22_simhash_pairs" ->
      graft.oracle.SketchSql.simhashNearDupsOracle(maxHamming = 3),
    "q43_fingerprint" ->
      graft.oracle.SketchSql.fingerprintOracle(window = 16),
    "q31_ann_lsh" -> {
      val sig = graft.oracle.SketchSql.lshSignatureExpr("v", 6)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sigs AS (SELECT vec_id, v, $sig AS sig FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, sig FROM sigs WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, v AS cv, sig FROM sigs),
         |s AS (SELECT qid, nid,
         |        CASE WHEN list_dot_product(qv, qv) = 0 OR list_dot_product(cv, cv) = 0 THEN 0
         |        ELSE list_dot_product(qv, cv) /
         |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) END AS sim
         |      FROM q JOIN c USING (sig) WHERE qid <> nid)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
         |  FROM s) WHERE rnk <= 5""".stripMargin
    },
    "q35_ann_lsh_multiprobe" -> {
      val sig = graft.oracle.SketchSql.lshSignatureExpr("v", 6)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sigs AS (SELECT vec_id, v, $sig AS sig FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, sig AS qsig FROM sigs WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, v AS cv, sig AS csig FROM sigs),
         |s AS (SELECT qid, nid,
         |        CASE WHEN list_dot_product(qv, qv) = 0 OR list_dot_product(cv, cv) = 0 THEN 0
         |        ELSE list_dot_product(qv, cv) /
         |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) END AS sim
         |      FROM q JOIN c ON bit_count(xor(qsig, csig)) <= 1 AND qid <> nid)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
         |  FROM s) WHERE rnk <= 5""".stripMargin
    },
    "q32_cosine_neardup" -> {
      val sig = graft.oracle.SketchSql.lshSignatureExpr("v", 6)
      s"""WITH un AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id,
         |    list_transform(embedding, x -> CAST(x * CAST(1.5 AS FLOAT) AS FLOAT)) AS embedding
         |  FROM embeddings WHERE vec_id < 20),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM un),
         |sigs AS (SELECT vec_id, v, $sig AS sig FROM e)
         |SELECT l.vec_id AS a, r.vec_id AS b
         |FROM sigs l JOIN sigs r ON l.sig = r.sig AND l.vec_id < r.vec_id
         |WHERE list_dot_product(l.v, l.v) > 0 AND list_dot_product(r.v, r.v) > 0
         |  AND list_dot_product(l.v, r.v) /
         |      (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))) >= 0.999
         |ORDER BY a, b""".stripMargin
    },
    "q33_ann_ivf" ->
      "SELECT vec_id AS qid, 1 AS recall_ok FROM embeddings WHERE vec_id < 10 ORDER BY qid",
    "q34_ann_ivfpq" ->
      "SELECT vec_id AS qid, 1 AS recall_ok FROM embeddings WHERE vec_id < 10 ORDER BY qid",
    "q23_ngram_jaccard" ->
      """WITH pairs AS (
        |  SELECT doc_id AS a, text AS ta, regexp_replace(text, ' [^ ]*$', '') AS tb
        |  FROM documents
        |), sh AS (
        |  SELECT a,
        |    list_distinct(list_transform(range(1, len(string_split(ta,' ')) - 1),
        |      i -> array_to_string(string_split(ta,' ')[i:i+2], ' '))) AS sa,
        |    list_distinct(list_transform(range(1, len(string_split(tb,' ')) - 1),
        |      i -> array_to_string(string_split(tb,' ')[i:i+2], ' '))) AS sb
        |  FROM pairs)
        |SELECT a, CAST(len(list_intersect(sa, sb)) AS BIGINT) AS inter,
        |  CAST(len(sa) + len(sb) - len(list_intersect(sa, sb)) AS BIGINT) AS uni
        |FROM sh""".stripMargin,
    "q30_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT qid, nid,
        |        CASE WHEN list_dot_product(qv, qv) = 0 OR list_dot_product(cv, cv) = 0 THEN 0
        |        ELSE list_dot_product(qv, cv) /
        |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) END AS sim
        |      FROM q, c WHERE qid <> nid)
        |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM (
        |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        |  FROM s) WHERE rnk <= 5""".stripMargin,
    "q40_textstats" ->
      """SELECT doc_id, length(text) AS n_chars,
        | CASE WHEN length(text) = 0 THEN 0
        |      ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS ws_tokens,
        | len(list_filter(string_split(lower(text), ' '),
        |   w -> list_contains(['the','of','and','a','to','in','is','for','on','with'], w))) AS n_stop
        |FROM documents""".stripMargin,
    "q41_quality" ->
      """SELECT doc_id,
        | CAST(((CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 4
        |       WHEN length(text) BETWEEN 20 AND 50000 THEN 2 ELSE 0 END)
        | + (CASE WHEN 20 * len(list_filter(string_split(lower(text), ' '),
        |       w -> list_contains(['the','of','and','a','to','in','is','for','on','with'], w)))
        |      > (CASE WHEN length(text) = 0 THEN 0
        |              ELSE length(text) - length(replace(text, ' ', '')) + 1 END)
        |    THEN 3 ELSE 0 END)
        | + (CASE WHEN 5 * (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) < length(text)
        |    THEN 3 ELSE 0 END)) AS BIGINT) AS quality_x10
        |FROM documents""".stripMargin,
    "q42_langid" ->
      """WITH sc AS (
        |  SELECT doc_id, [
        |   {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['der','die','und','das','ist','nicht','mit','ein','ich','auf'], w))), 'lang': 'de'},
        |   {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['the','and','of','to','in','is','that','it','was','for'], w))), 'lang': 'en'},
        |   {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['el','la','los','del','las','por','con','una','para','es'], w))), 'lang': 'es'},
        |   {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['le','la','et','les','des','est','pas','une','dans','que'], w))), 'lang': 'fr'},
        |   {'score': (CASE WHEN contains(text,'的') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'是') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'不') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'了') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'在') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'人') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'有') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'我') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'他') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'这') THEN 1 ELSE 0 END), 'lang': 'zh'}
        |  ] AS scores FROM documents)
        |SELECT doc_id,
        |  CASE WHEN (list_sort(scores)[5]).score > 0 THEN (list_sort(scores)[5]).lang
        |       ELSE 'und' END AS lang_guess
        |FROM sc""".stripMargin,
    "q44_chunking" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, unnest(list_transform(range(0, ((len(ws)-1)//24)+1),
        |        i -> {'i': i, 't': array_to_string(ws[i*24+1 : i*24+32], ' ')})) AS u
        |      FROM w)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx, u.t AS chunk_text FROM c""".stripMargin,
    "q45_redact" ->
      """SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(
        |     text || ' contact user' || doc_id || '@example.com or +1 (415) 555-01' || (doc_id % 90 + 10),
        |     '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |   '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin,
    "q46_clean_pipeline" ->
      """WITH dedup AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |flt AS (
        |  SELECT doc_id, text FROM dedup
        |  WHERE (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 4
        |              WHEN length(text) BETWEEN 20 AND 50000 THEN 2 ELSE 0 END)
        |      + (CASE WHEN 20 * len(list_filter(string_split(lower(text), ' '),
        |            w -> list_contains(['the','of','and','a','to','in','is','for','on','with'], w)))
        |           > (CASE WHEN length(text) = 0 THEN 0
        |                   ELSE length(text) - length(replace(text, ' ', '')) + 1 END)
        |         THEN 3 ELSE 0 END)
        |      + (CASE WHEN 5 * (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) < length(text)
        |         THEN 3 ELSE 0 END) >= 7
        |),
        |lang AS (
        |  SELECT doc_id, text,
        |    [
        |     {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['der','die','und','das','ist','nicht','mit','ein','ich','auf'], w))), 'lang': 'de'},
        |     {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['the','and','of','to','in','is','that','it','was','for'], w))), 'lang': 'en'},
        |     {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['el','la','los','del','las','por','con','una','para','es'], w))), 'lang': 'es'},
        |     {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['le','la','et','les','des','est','pas','une','dans','que'], w))), 'lang': 'fr'},
        |     {'score': (CASE WHEN contains(text,'的') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'是') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'不') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'了') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'在') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'人') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'有') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'我') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'他') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'这') THEN 1 ELSE 0 END), 'lang': 'zh'}
        |    ] AS scores
        |  FROM flt),
        |en AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(text,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS text
        |  FROM lang
        |  WHERE (list_sort(scores)[5]).score > 0 AND (list_sort(scores)[5]).lang = 'en'),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM en),
        |c AS (SELECT doc_id, unnest(list_transform(range(0, ((len(ws)-1)//24)+1),
        |        i -> {'i': i, 't': array_to_string(ws[i*24+1 : i*24+32], ' ')})) AS u
        |      FROM w)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx, u.t AS chunk_text FROM c""".stripMargin,
    "q50_events_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin,
    "q51_sessionize" ->
      """SELECT event_id, user_id,
        | CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |  SELECT event_id, user_id, ts,
        |   CASE WHEN lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR date_diff('second', lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
        |        THEN 1 ELSE 0 END AS brk
        |  FROM events) s""".stripMargin,
    "q52_events_minmax" ->
      """SELECT event_type, count(*) AS cnt, min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q53_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q58_salted_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin,
    "q59_asof_join" ->
      """SELECT l.event_id, l.user_id, r.value AS value_asof
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    "q60_multimodal" ->
      """SELECT doc_id AS media_id,
        | (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
        | CASE WHEN doc_id % 3 = 0 THEN (doc_id % 64) * 16 + 16 ELSE -1 END AS decoded_w,
        | CASE WHEN doc_id % 3 = 0 THEN (doc_id % 48) * 16 + 16 ELSE -1 END AS decoded_h,
        | CASE WHEN doc_id % 3 = 1 THEN ((doc_id % 200) + 50) * 8 ELSE -1 END AS decoded_frames
        |FROM documents""".stripMargin
  )
}
