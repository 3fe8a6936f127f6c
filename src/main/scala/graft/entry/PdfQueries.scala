package graft.entry

import org.apache.spark.sql.functions._

/** Whole-PDF surfaces over the reference corpus: tspan ingestion, metadata,
  * images, text items and styles, page labels, outline, destinations,
  * attachments, JavaScript, fingerprints and annotations. Synthetic PDFs join
  * the corpus where it lacks a lane. Every query here reads the reference
  * checkout under [[ReferenceRoot]]. */
private[graft] object PdfQueries {

  /** Root of the reference checkout: its input PDFs, golden outputs and test
    * papers. q18's oracle SQL spells the golden path out in full. */
  private final val ReferenceRoot = "/root/reference"

  val all: Seq[Query] = Seq(
    Query("q18_pdf_file_ingest",
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
        |FROM entries""".stripMargin) { (s, dir) =>
      // whole-PDF ingestion as a distributed source: binaryFile scan → per-row
      // xref/page-tree/font/evaluator pipeline → ordered tspan entries.
      // Entries are compared space-normalized: the reference goldens embed a
      // fake-space heuristic from a generator build the repo no longer ships
      // (glyph content, order and segmentation are exact; see PdfIngestSpec
      // for the exact-with-spaces floors).
      import s.implicits._
      val _ = dir // inputs are the reference corpus PDFs, not the sf tables
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load(s"$ReferenceRoot/src/test/resources/input")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          graft.pdf.PdfDocument.open(bytes).tspanTexts.zipWithIndex.map {
            case (t, i) => (paper, i.toLong, t.replace(" ", ""))
          }
        }
        .toDF("paper", "entry_idx", "entry_nospace")
    },
    Query("q19_pdf_metadata",
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
        |) AS t(paper, meta_key, meta_value)""".stripMargin) { (s, dir) =>
      // getMetadata parity (reference getinfo.js:33-43): trailer /Info entries
      // (spec-validated keys, PDFDocEncoding/UTF-16BE decoding) plus the
      // catalog /Metadata XMP packet, fingerprinted as length + md5 so the
      // oracle stays a reviewable literal. Expected values below were verified
      // against the raw PDF bytes by inspection (incl. test24's incremental
      // update, whose newer /Info generation supersedes the original).
      import s.implicits._
      val _ = dir
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load(s"$ReferenceRoot/src/test/resources/input")
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
    },
    Query("q19b_pdf_exact_floor",
      """SELECT * FROM (VALUES
        | ('1301.4293', 1), ('C04-1204', 1), ('test24', 1), ('test25', 1)
        |) AS t(paper, exact_floor_ok)""".stripMargin) { (s, dir) =>
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
        .load(s"$ReferenceRoot/src/test/resources/input")
        .select(col("path"), col("content")).as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          graft.pdf.PdfDocument.open(bytes).tspanTexts.zipWithIndex.map {
            case (t, i) => (paper, i.toLong, t)
          }
        }.toDF("paper", "idx", "got_entry")
      val exp = s.read.format("binaryFile").option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "tspan-texts.txt")
        .load(s"$ReferenceRoot/src/test/resources/output")
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
    },
    Query("q61_pdf_images",
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
        |       dec_w, dec_h, dec_bands, gray_mean)""".stripMargin) { (s, dir) =>
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
        .load(s"$ReferenceRoot/src/test/resources/input", s"$ReferenceRoot/test-papers")
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
    },
    Query("q62_pdf_text_items",
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
        |) AS t(paper, page, n_items, items_md5)""".stripMargin) { (s, dir) =>
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
        .load(s"$ReferenceRoot/src/test/resources/input")
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
    },
    Query("q63_pdf_text_styles",
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
        |) AS t(paper, page, n_items, n_styles, names_md5, styles_md5)""".stripMargin) { (s, dir) =>
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
        .load(s"$ReferenceRoot/src/test/resources/input")
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
    },
    Query("q64_page_labels",
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
        |) AS t(paper, page, label)""".stripMargin) { (s, dir) =>
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
        .load(s"$ReferenceRoot/src/test/resources/input", s"$ReferenceRoot/test-papers")
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
    },
    Query("q65_pdf_outline",
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
        |) AS t(paper, ord, depth, title, dest, url, color, cnt, bold, italic, dest_page)""".stripMargin) { (s, dir) =>
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
        .load(s"$ReferenceRoot/src/test/resources/input", s"$ReferenceRoot/test-papers")
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
    },
    Query("q66_named_dests",
      """SELECT * FROM (VALUES
        | ('1301.4293', 28, '5485749e61e5ca9291a9590c0211366f'),
        | ('C04-1204', 0, 'd41d8cd98f00b204e9800998ecf8427e'),
        | ('test24', 217, '1abc7a3f73b98731dcb90489e5f366f6'),
        | ('test25', 74, '29ac560074b8a2dc6ae70095738cdd58'),
        | ('2839', 30, '6c0ddb96f42301fe9394afd8b5ad6388')
        |) AS t(paper, n_dests, dests_md5)""".stripMargin) { (s, dir) =>
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
        .load(s"$ReferenceRoot/src/test/resources/input", s"$ReferenceRoot/test-papers")
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
    },
    Query("q67_pdf_attachments",
      """SELECT * FROM (VALUES
        | ('1301.4293', '', '', -1, ''),
        | ('C04-1204', '', '', -1, ''),
        | ('test24', '', '', -1, ''),
        | ('test25', '', '', -1, ''),
        | ('2839', '', '', -1, ''),
        | ('attach', 'att1', 'a/b/c.txt', 64, '7160b8fb5e9e4023d549c3971fbaeead'),
        | ('attach', 'file2.bin', 'file2.bin', 17, '17b8f931068345055c3e719aab14f158'),
        | ('attach', 'noef', 'orphan.txt', -1, '')
        |) AS t(paper, name, filename, clen, cmd5)""".stripMargin) { (s, dir) =>
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
        .load(s"$ReferenceRoot/src/test/resources/input", s"$ReferenceRoot/test-papers")
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
    },
    Query("q68_pdf_javascript",
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
        |) AS t(paper, ord, js)""".stripMargin) { (s, dir) =>
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
        .load(s"$ReferenceRoot/src/test/resources/input", s"$ReferenceRoot/test-papers")
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
    },
    Query("q69_pdf_fingerprint",
      """SELECT * FROM (VALUES
        | ('1301.4293', '9605231df768918a8dc5a1b770bff72e'),
        | ('C04-1204', 'e2ad24e5cb021ebfbc52ffa6449933bb'),
        | ('test24', 'c37dbdcbecd3bbbef8e50f83bd0d4ef7'),
        | ('test25', 'eb7e9f8123febb91b7c47bffa44269b5'),
        | ('2839', '3b70f2b8de5cb59e6a3462073141096f')
        |) AS t(paper, fingerprint)""".stripMargin) { (s, dir) =>
      // the document fingerprint surface (reference PDFDocument.fingerprint,
      // pdf.combined.js:49271-49292): trailer /ID[0] hex when present and
      // non-placeholder, else MD5 over the first 1024 file bytes (with the
      // reference's zero-pad-to-1024 quirk for shorter files). All literals
      // verified against the vendored engine under node (AttachmentsSpec).
      // The natural corpus-dedup key for a PDF ingest pipeline.
      import s.implicits._
      val _ = dir
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load(s"$ReferenceRoot/src/test/resources/input", s"$ReferenceRoot/test-papers")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .map { case (path, bytes) =>
          val paper = path.split('/').last.stripSuffix(".pdf")
          (paper, graft.pdf.PdfDocument.open(bytes).fingerprint)
        }
        .toDF("paper", "fingerprint")
    },
    Query("q70_pdf_annotations",
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
        |) AS t(paper, page, n_annots, annots_md5)""".stripMargin) { (s, dir) =>
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
        .load(s"$ReferenceRoot/src/test/resources/input", s"$ReferenceRoot/test-papers")
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
    }
  )
}
