package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._

/** Training-data extensions, second tier: WARC sources, exports, charset funnels, link graph, recrawl
  * (pure move out of Queries.scala — no behavior change).
  */
private[graft] trait ExtQueriesB extends ExtQueriesA {
  // the traits form one object (Queries); forward references across
  // tiers resolve through the self-type, exactly as in the single file
  self: OraclesExt =>

  /** `.warc.gz` ARCHIVE ingestion (`source_warc_gz`,
    * [[graft.functions.WarcGzMembersExpr]] over
    * [[graft.sources.WarcGz]]) — the missing first metre of the crawl
    * tier: REAL concatenated-gzip-member archive files on disk (the
    * Common Crawl layout, the source [[graft.sources.WarcCodec]]'s
    * header promised), read through Spark's `binaryFile` source,
    * member-split by the generator (RFC 1952 walk, CRC32/ISIZE
    * verified per member), each member handed to
    * [[graft.functions.WarcParseExpr]] — file bytes to typed records
    * in ONE map-only stage. Parallelism is per FILE, which is the
    * honest unit: a gzip member chain is sequential by construction,
    * and a 100 TB crawl is ~100k × ~1 GB segment files — this exact
    * plan with more files. The oracle reconstructs every fact keyed by
    * (file, member position); member order inside each archive is
    * ascending doc id by construction.
    */
  val sourceWarcGz: Q = (s, d) => {
    val nFiles = 8
    val dir = plantWarcGzFiles(s, d, nFiles)
    val g = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcGzMembersExpr(
        org.apache.spark.sql.GraftBridge.expression(col("content"))))
    val w = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("member"))))
    s.read.format("binaryFile").option("pathGlobFilter", "*.warc.gz")
      .load(dir)
      .select(regexp_extract(col("path"),
          "members-(\\d+)\\.warc\\.gz$", 1).cast("long").as("file_no"),
        col("content"))
      .select(col("file_no"), g) // -> file_no, member_idx, member
      .select(col("file_no"),
        col("member_idx").cast("long").as("member_idx"), w.as("w"))
      .select(col("file_no"), col("member_idx"),
        col("w.warc_type").as("warc_type"),
        col("w.target_uri").as("target_uri"),
        col("w.status").as("status"),
        col("w.content_type").as("content_type"),
        md5(col("w.body")).as("body_md5"),
        when(col("w.content_type") === "text/html",
          md5(TextOps.extractHtml(decode(col("w.body"), "UTF-8"))
            .getField("text"))).as("extracted_md5"))
      .orderBy("file_no", "member_idx")
  }

  /** The zstd archive fixture's shared dictionary — WARC header
    * boilerplate, which is exactly what a trained Common Crawl
    * dictionary captures (every record repeats these bytes).
    */
  private[graft] val warcZstDict: Array[Byte] =
    ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
      "http://site0.com/\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
      "Content-Type: application/http;msgtype=response\r\n" +
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n")
      .getBytes("US-ASCII")

  /** Plant `.warc.zst` archive files ([[graft.sources.WarcZst]]
    * fixture encoders): 8 files keyed by doc_id % 8; EVEN files lead
    * with the dictionary skippable frame (the payload itself
    * zstd-compressed — the Common Crawl variant) and rotate
    * plain / dictionary-compressed / checksummed data frames; ODD
    * files carry no dictionary and rotate plain / DECLARED-dict-id
    * (the named rejection — only well-formed in a dictionary-less
    * archive) / checksummed. One WARC response record per frame,
    * members in ascending doc-id order.
    */
  private[graft] def plantWarcZstFiles(s: SparkSession, d: String): String = {
    val dir = Scratch.dir("graft_warc_zst")
    docs(s, d).select(col("doc_id"), col("text"))
      .withColumn("file_no", (col("doc_id") % 8).cast("long"))
      .repartition(8, col("file_no"))
      .sortWithinPartitions("file_no", "doc_id")
      .foreachPartition { (rows: Iterator[Row]) =>
        import graft.sources.{WarcCodec, WarcZst}
        var cur = -1L
        var out: java.io.OutputStream = null
        def close(): Unit = if (out != null) { out.close(); out = null }
        try {
          rows.foreach { r =>
            val id = r.getLong(0); val f = r.getLong(2)
            if (f != cur) {
              close(); cur = f
              out = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(
                  new java.io.File(dir, f"records-$f%05d.warc.zst")))
              if (f % 2 == 0)
                out.write(WarcZst.encodeSkippable(
                  WarcZst.encodeFrame(Queries.warcZstDict)))
            }
            val rec = WarcCodec.encodeResponse(
              s"http://site${id % 13}.com/z$id", 200, "text/html",
              r.getString(1).getBytes("UTF-8"))
            val kind = ((id / 8) % 3).toInt
            out.write(((f % 2).toInt, kind) match {
              case (0, 1) => WarcZst.encodeFrame(rec, dict = Queries.warcZstDict)
              case (1, 1) => WarcZst.encodeFrameWithDictId(rec, dictId = 7)
              case (_, 2) => WarcZst.encodeFrame(rec, checksum = true)
              case _ => WarcZst.encodeFrame(rec)
            })
          }
        } finally close()
      }
    dir
  }

  /** `.warc.zst` ARCHIVE ingestion (`source_warc_zst`,
    * [[graft.functions.WarcZstMembersExpr]] over
    * [[graft.sources.WarcZst]]) — Common Crawl's CURRENT framing, the
    * round-14 gap where `zstd` was only a named Content-Encoding
    * rejection: real multi-frame archives on disk read through
    * `binaryFile`, the engine's own frame walk splitting members
    * (skippable-dictionary capture, per-frame header/block framing,
    * platform-codec decompression — the gzip/Inflater division of
    * labor), each member through [[graft.functions.WarcParseExpr]].
    * Dictionary-compressed frames decode through the captured
    * skippable dictionary; frames declaring a dictionary an archive
    * does not carry surface the NAMED `zstd-dictionary:<id>` member
    * error with bytes kept (WARC facts null — labeled dark data, the
    * `br` discipline). Parallelism per file, the honest sequential
    * unit, exactly like `source_warc_gz`.
    */
  val sourceWarcZst: Q = (s, d) => {
    val dir = plantWarcZstFiles(s, d)
    val g = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcZstMembersExpr(
        org.apache.spark.sql.GraftBridge.expression(col("content"))))
    val w = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("member"))))
    s.read.format("binaryFile").option("pathGlobFilter", "*.warc.zst")
      .load(dir)
      .select(regexp_extract(col("path"),
          "records-(\\d+)\\.warc\\.zst$", 1).cast("long").as("file_no"),
        col("content"))
      .select(col("file_no"), g) // -> file_no, member_idx, member, err
      .select(col("file_no"),
        col("member_idx").cast("long").as("member_idx"),
        col("err"), w.as("w"))
      .select(col("file_no"), col("member_idx"), col("err"),
        col("w.target_uri").as("target_uri"),
        col("w.status").as("status"),
        md5(col("w.body")).as("body_md5"))
      .orderBy("file_no", "member_idx")
  }

  /** WET EXPORT (`pipeline_wet_export`) — the derivative-corpus SINK:
    * crawl archives in, extracted-text archives out, Common Crawl's
    * own `.warc.wet.gz` layout. The chain is the production shape end
    * to end: WARC records parse in the scan projection, html
    * responses extract, each page re-frames as a WARC `conversion`
    * record ([[graft.functions.WarcConversionExpr]] — record BYTES
    * built executor-side in the projection), every output file gets a
    * `warcinfo` leader, and the archive write is the same
    * hash-repartition + within-partition-sort + sequential-write
    * shape as [[writeWarcGzFiles]] (write parallelism = one task per
    * output file, the honest unit for a sequential member chain).
    * Verification READS THE EXPORT BACK through the engine's own
    * container walk — member framing, leader placement, record
    * headers and text bytes all md5-replayed by construction.
    */
  val pipelineWetExport: Q = (s, d) => {
    val nFiles = 5
    val dir = Scratch.dir("graft_wet")
    val w = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("record"))))
    val conv = plantedWarcRecords(s, d)
      .select(col("doc_id"), w.as("w"))
      .where(col("w.warc_type") === "response" &&
        col("w.content_type") === "text/html")
      .select(col("doc_id"),
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.WarcConversionExpr(
            org.apache.spark.sql.GraftBridge.expression(
              col("w.target_uri")),
            org.apache.spark.sql.GraftBridge.expression(
              TextOps.extractHtml(decode(col("w.body"), "UTF-8"))
                .getField("text")))).as("record"))
    val leader = graft.sources.WarcCodec.encodeInfo(
      "software: graft-wet-writer\r\n".getBytes("US-ASCII"))
    // one warcinfo leader per output file; negative doc_ids sort the
    // leaders to member position 0 inside each file
    val leaders = s.range(nFiles)
      .select((col("id") - nFiles).as("doc_id"), lit(leader).as("record"))
    writeWarcGzFiles(conv.unionByName(leaders), dir, nFiles, "wet", 0L,
      when(col("doc_id") < 0, col("doc_id") + nFiles)
        .otherwise(col("doc_id") % nFiles))
    val g = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcGzMembersExpr(
        org.apache.spark.sql.GraftBridge.expression(col("content"))))
    val rw = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("member"))))
    s.read.format("binaryFile").option("pathGlobFilter", "*.warc.gz")
      .load(dir)
      .select(regexp_extract(col("path"),
          "wet-(\\d+)\\.warc\\.gz$", 1).cast("long").as("file_no"),
        col("content"))
      .select(col("file_no"), g)
      .select(col("file_no"),
        col("member_idx").cast("long").as("member_idx"), rw.as("w"))
      .select(col("file_no"), col("member_idx"),
        col("w.warc_type").as("warc_type"),
        col("w.target_uri").as("target_uri"),
        md5(col("w.body")).as("body_md5"))
      .orderBy("file_no", "member_idx")
  }

  /** WAT EXPORT (`pipeline_wat_export`) — the METADATA derivative
    * beside [[pipelineWetExport]]'s text one (Common Crawl's
    * `.warc.wat.gz`): every response record's envelope facts (uri,
    * status, content type, outlink count) as a canonical JSON body in
    * a WARC `metadata` record, written through the same executor-side
    * archive shape and read back through the engine's own member
    * walk. The JSON is BUILT as a deterministic string (field order
    * fixed by construction) so the oracle replays the exact bytes.
    */
  val pipelineWatExport: Q = (s, d) => {
    val nFiles = 5
    val dir = Scratch.dir("graft_wat")
    val w = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("record"))))
    val parsed = plantedWarcRecords(s, d)
      .select(col("doc_id"), w.as("w"))
      .where(col("w.warc_type") === "response")
    val nLinks = when(col("w.content_type") === "text/html",
      size(graft.functions.HtmlLinks.htmlLinks(
        decode(col("w.body"), "UTF-8")).getField("links")))
      .otherwise(0).cast("long")
    val json = concat(lit("{\"uri\":\""), col("w.target_uri"),
      lit("\",\"status\":"), col("w.status").cast("string"),
      lit(",\"content_type\":\""), col("w.content_type"),
      lit("\",\"n_links\":"), nLinks.cast("string"), lit("}"))
    val conv = parsed.select(col("doc_id"),
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.WarcConversionExpr(
          org.apache.spark.sql.GraftBridge.expression(
            col("w.target_uri")),
          org.apache.spark.sql.GraftBridge.expression(json),
          metadata = true)).as("record"))
    val leader = graft.sources.WarcCodec.encodeInfo(
      "software: graft-wat-writer\r\n".getBytes("US-ASCII"))
    val leaders = s.range(nFiles)
      .select((col("id") - nFiles).as("doc_id"), lit(leader).as("record"))
    writeWarcGzFiles(conv.unionByName(leaders), dir, nFiles, "wat", 0L,
      when(col("doc_id") < 0, col("doc_id") + nFiles)
        .otherwise(col("doc_id") % nFiles))
    val g = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcGzMembersExpr(
        org.apache.spark.sql.GraftBridge.expression(col("content"))))
    val rw = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("member"))))
    s.read.format("binaryFile").option("pathGlobFilter", "*.warc.gz")
      .load(dir)
      .select(regexp_extract(col("path"),
          "wat-(\\d+)\\.warc\\.gz$", 1).cast("long").as("file_no"),
        col("content"))
      .select(col("file_no"), g)
      .select(col("file_no"),
        col("member_idx").cast("long").as("member_idx"), rw.as("w"))
      .select(col("file_no"), col("member_idx"),
        col("w.warc_type").as("warc_type"),
        col("w.target_uri").as("target_uri"),
        md5(col("w.body")).as("body_md5"))
      .orderBy("file_no", "member_idx")
  }

  /** STREAMING WET EXPORT (`pipeline_wet_stream`) — the derivative
    * sink as a CONTINUOUS query: crawl records arrive as a stream,
    * and each micro-batch writes its own `.warc.wet.gz` archive
    * directory (batch-id-named, wholesale overwrite — the idempotent
    * redelivery discipline of the frontier store), one warcinfo
    * leader per file. Verification reads EVERY archive back through
    * the engine's own member walk and emits the conversion records'
    * (uri, text-md5) facts — a SET the micro-batch split cannot
    * change, so the oracle is the batch replay regardless of how the
    * wave split.
    */
  val pipelineWetStream: Q = (s, d) => {
    val outDir = Scratch.dir("graft_wet_stream")
    val feedDir = Scratch.dir("graft_wet_feed")
    plantedWarcRecords(s, d).repartition(4, col("doc_id"))
      .write.mode("overwrite").parquet(feedDir)
    val schema = plantedWarcRecords(s, d).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val leader = graft.sources.WarcCodec.encodeInfo(
      "software: graft-wet-writer\r\n".getBytes("US-ASCII"))
    graft.streaming.StreamScale.runDrained(s) {
      stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = org.apache.spark.sql.GraftBridge.column(
          graft.functions.WarcParseExpr(
            org.apache.spark.sql.GraftBridge.expression(col("record"))))
        val conv = batch.select(col("doc_id"), w.as("w"))
          .where(col("w.warc_type") === "response" &&
            col("w.content_type") === "text/html")
          .select(col("doc_id"),
            org.apache.spark.sql.GraftBridge.column(
              graft.functions.WarcConversionExpr(
                org.apache.spark.sql.GraftBridge.expression(
                  col("w.target_uri")),
                org.apache.spark.sql.GraftBridge.expression(
                  TextOps.extractHtml(decode(col("w.body"), "UTF-8"))
                    .getField("text")))).as("record"))
        val leaders = batch.sparkSession.range(1)
          .select((col("id") - 1).as("doc_id"),
            lit(leader).as("record"))
        // one archive per micro-batch, wholesale-overwritten on
        // redelivery (the batch-id names the directory)
        val batchDir = s"$outDir/batch-$batchId"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(batchDir))
        writeWarcGzFiles(conv.unionByName(leaders),
          batchDir, 1, "wet", 0L, lit(0L))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start() }
    val g = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcGzMembersExpr(
        org.apache.spark.sql.GraftBridge.expression(col("content"))))
    val rw = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("member"))))
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc.gz")
      .option("recursiveFileLookup", "true")
      .load(outDir)
      .select(g)
      .select(rw.as("w"))
      .where(col("w.warc_type") === "conversion")
      .select(col("w.target_uri").as("target_uri"),
        md5(col("w.body")).as("body_md5"))
      .orderBy("target_uri", "body_md5")
  }

  /** The documents table as REAL PDFs ([[graft.operators.PdfCodec]]
    * fixture encoder) — doc_id % 18 rotates the extraction contract's
    * whole surface: a 1-page classic raw-stream doc with WinAnsi
    * specials, a 2-page classic FlateDecode doc (the `\f` page join),
    * the four named rejections (an unreadable /Encrypt, Type0 WITHOUT
    * ToUnicode, DCT filter, structurally broken), the MODERN layouts
    * — a 1-page PDF 1.5 file whose document objects live in an ObjStm
    * behind a predictor-coded cross-reference stream, and a 2-page
    * PDF 1.5 file with a plain cross-reference stream — the legacy
    * filters (an LZWDecode content stream and an ASCII85 →
    * FlateDecode filter CHAIN), the FONT surface (a `/Differences`-
    * remapped simple font with AGL names + `uniXXXX` auto-increment,
    * and a Type0/Identity-H font whose ToUnicode CMap carries both
    * bfchar and bfrange sections), and the ENCRYPTED-majority
    * surface: a V2/R3 RC4 file, a V4/R4 AESV2 file and a V5/R6
    * AES-256 file, each with the empty user password a crawl
    * actually meets (permissions-only encryption), decrypted through
    * the standard security handler — plus a passworded V5 file that
    * must stay an `encrypted` rejection.
    */
  private[graft] def plantedPdfDocs(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("pdf", BinaryType)))
    graft.plans.ScaleOut.widen(
      docs(s, d).select(col("doc_id"), col("text")))
      .mapPartitions { rows =>
      import graft.operators.PdfCodec
      rows.map { r =>
        val id = r.getLong(0)
        val text = r.getString(1)
        val bytes: Array[Byte] = (id % 18).toInt match {
          case 0 => PdfCodec.encodePdf(Seq(Seq(s"Doc $id heading.",
            text, "café € — ’ tail")))
          case 1 => PdfCodec.encodePdf(Seq(
            Seq(s"Doc $id page one.", text),
            Seq(s"Doc $id page two.")), flate = true)
          case 2 => PdfCodec.encodePdf(Seq(Seq(text)), encrypted = true)
          case 3 => PdfCodec.encodePdf(Seq(Seq(text)), type0 = true)
          case 4 => PdfCodec.encodePdf(Seq(Seq(text)), badFilter = true)
          case 5 => PdfCodec.encodePdf(Seq(Seq(s"Doc $id modern.",
            text)), flate = true, xrefStream = true, objStm = true,
            predictor = 12)
          case 6 => PdfCodec.encodePdf(Seq(
            Seq(s"Doc $id xr one.", text),
            Seq(s"Doc $id xr two.")), xrefStream = true)
          case 7 => PdfCodec.encodePdf(Seq(Seq(s"Doc $id lzw.",
            text)), lzw = true)
          case 8 => PdfCodec.encodePdf(Seq(Seq(s"Doc $id chained.",
            text)), flate = true, a85 = true)
          case 9 => PdfCodec.encodePdf(Seq(Seq(s"Doc $id diff.",
            text)), differences = true)
          case 10 => PdfCodec.encodePdf(Seq(Seq(s"Doc $id cid.",
            text)), cid = true)
          case 12 => PdfCodec.encodePdf(Seq(Seq(s"Doc $id rc4.",
            text)), flate = true, crypt = "rc4")
          case 13 => PdfCodec.encodePdf(Seq(Seq(s"Doc $id aes.",
            text)), crypt = "aes")
          case 14 => PdfCodec.encodePdf(Seq(Seq(s"Doc $id v5.",
            text)), flate = true, crypt = "aes256")
          case 15 => PdfCodec.encodePdf(Seq(Seq(text)),
            crypt = "aes256-pwd")
          case 16 => PdfCodec.encodePdf(Seq(Seq(s"Doc $id inline.",
            text)), flate = true, inlineImage = "raw")
          case 17 => PdfCodec.encodePdf(Seq(Seq(text)),
            inlineImage = "nolen")
          case _ => s"%PDF-1.4 header then garbage $id"
            .getBytes("US-ASCII")
        }
        Row(id, bytes)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** PDF → text (`text_extract_pdf`,
    * [[graft.functions.PdfTextExpr]] over
    * [[graft.operators.PdfCodec]]) — after HTML, the next-largest
    * text payload a crawl carries, extracted byte-for-byte in the
    * scan projection: xref walk, FlateDecode, BT/ET text runs, the
    * WinAnsi byte→char table, pages joined with `\f` — and every
    * unsupported construct a NAMED rejection the query keeps as a
    * relational fact (`err`), never a silent mojibake. The oracle
    * reconstructs the extracted STRING per kind (chr() codepoints for
    * the planted specials) and the rejection name per planted bad
    * document.
    */
  val textExtractPdf: Q = (s, d) => {
    val p = org.apache.spark.sql.GraftBridge.column(
      graft.functions.PdfTextExpr(
        org.apache.spark.sql.GraftBridge.expression(col("pdf"))))
    plantedPdfDocs(s, d)
      .select(col("doc_id"), p.as("p"))
      .select(col("doc_id"),
        col("p.n_pages").as("n_pages"),
        col("p.err").as("err"),
        md5(col("p.text")).as("text_md5"),
        length(col("p.text")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** The documents table wrapped as extractable PDFs for the composed
    * pretrain variant — SUCCESS kinds only (doc_id % 2: 1-page raw /
    * 2-page FlateDecode), so the chain sees every doc and the oracle
    * replays extraction as a string reconstruction.
    */
  private[graft] def pdfAugmentedDocs(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("pdf", BinaryType),
      StructField("source", StringType)))
    docs(s, d).select(col("doc_id"), col("text"), col("source"))
      .mapPartitions { rows =>
        import graft.operators.PdfCodec
        rows.map { r =>
          val id = r.getLong(0)
          val text = r.getString(1)
          // odd docs arrive as MODERN files (xref stream + ObjStm +
          // predictor) — the extracted text is identical, so the
          // oracle reconstruction is layout-blind, as it should be
          val bytes: Array[Byte] =
            if (id % 2 == 0)
              PdfCodec.encodePdf(Seq(Seq(s"Doc $id overview.", text)))
            else
              PdfCodec.encodePdf(Seq(
                Seq(s"Doc $id overview.", text),
                Seq(s"Appendix $id.")), flate = true,
                xrefStream = true, objStm = true, predictor = 12)
          Row(id, bytes, r.getString(2))
        }
      }(Encoders.row(schema)).toDF()
  }

  /** The PDF-ingest pretraining pipeline (`pipeline_pretrain_pdf`):
    * [[pipelinePretrainHtml]]'s chain with [[textExtractPdf]]'s
    * extraction as the ingest stage — PDF bytes → text → exact dedup →
    * decontamination → language/quality gates → mixture → shards, the
    * whole path one declarative plan. `text_extract_pdf` pins the
    * extraction byte-for-byte; this pins the COMPOSITION.
    */
  val pipelinePretrainPdf: Q = (s, d) => {
    val p = org.apache.spark.sql.GraftBridge.column(
      graft.functions.PdfTextExpr(
        org.apache.spark.sql.GraftBridge.expression(col("pdf"))))
    pretrainChain(graft.plans.LazyCheckpoint.shared(
      pdfAugmentedDocs(s, d).select(col("doc_id"),
        p.getField("text").as("text"), col("source"))))
  }

  /** eTLD+1 from a VERSIONED PSL artifact (`text_url_domain_artifact`,
    * [[graft.functions.PslStore]] +
    * [[graft.functions.UrlOps.registrableDomainFrom]]) — the full
    * public-suffix load path the embedded snapshot stands in for
    * ([[graft.functions.UrlOps]]'s header promise): two artifact
    * versions are planted (v2 adds multi-label, wildcard and
    * exception rules the snapshot does NOT carry), each pinned at
    * construction, and the SAME host column resolves differently
    * under each pin — mis-keying a `k12.ma.us`-style suffix is
    * exactly the silent domain-cap distortion the artifact fixes.
    * Rules parse once on the driver and ship inside the expression;
    * per row the match is a label-tail walk, map-only.
    */
  val textUrlDomainArtifact: Q = (s, d) => {
    val dir = Scratch.dir("graft_psl")
    val v1Rules = Seq("com", "net", "org", "uk", "co.uk", "jp", "us",
      "br", "io", "dev")
    val v2Rules = v1Rules ++ Seq("github.io", "k12.ma.us", "*.nom.br",
      "*.kawasaki.jp", "!city.kawasaki.jp")
    val v1 = graft.functions.PslStore.save(dir, v1Rules)
    val v2 = graft.functions.PslStore.save(dir, v2Rules)
    val id = col("doc_id")
    val n = (id % 37).cast("string")
    val host = when(id % 8 === 0, concat(lit("www.site"), n, lit(".com")))
      .when(id % 8 === 1, concat(lit("shop.site"), n, lit(".co.uk")))
      .when(id % 8 === 2, concat(lit("user"), n, lit(".github.io")))
      .when(id % 8 === 3, concat(lit("deep.sub"), n, lit(".k12.ma.us")))
      .when(id % 8 === 4, concat(lit("a"), n, lit(".b.nom.br")))
      .when(id % 8 === 5, lit("sub.city.kawasaki.jp"))
      .when(id % 8 === 6, concat(lit("x.other"), n, lit(".kawasaki.jp")))
      .otherwise(lit("github.io"))
    docs(s, d).select(id, host.as("host"))
      .select(id, col("host"),
        graft.functions.UrlOps.registrableDomainFrom(col("host"), dir,
          version = v1).as("domain_v1"),
        graft.functions.UrlOps.registrableDomainFrom(col("host"), dir,
          version = v2).as("domain_v2"))
      .orderBy("doc_id")
  }

  /** The planted language-profile artifact versions — ONE constant
    * drives both the store the query pins and the oracle's replay of
    * the scoring, so the weights cannot drift between them. v1 is the
    * under-trained 2-language set; v2 adds es/fr with refined weights
    * (the upgrade a curation run rolls out WITHOUT re-keying history,
    * because every consumer pins its version).
    */
  private[graft] val plantedLangProfilesV2: Seq[(String, Seq[(String, Long)])] =
    Seq(
      "en" -> Seq("the" -> 4L, "and" -> 3L, "of" -> 3L, "is" -> 2L,
        "to" -> 2L),
      "de" -> Seq("der" -> 4L, "und" -> 3L, "ist" -> 3L, "das" -> 2L,
        "nicht" -> 2L),
      "es" -> Seq("el" -> 4L, "que" -> 3L, "los" -> 3L, "una" -> 2L,
        "por" -> 2L),
      "fr" -> Seq("le" -> 4L, "et" -> 3L, "les" -> 3L, "une" -> 2L,
        "dans" -> 2L))

  private[graft] val plantedLangProfilesV1 = plantedLangProfilesV2.take(2)

  /** Language-ID from a VERSIONED profile artifact
    * (`text_langid_artifact`, [[graft.functions.LangProfileStore]] +
    * [[TextOps.langIdFromArtifact]]) — the artifact-loaded model the
    * embedded [[TextOps.langId]] vote stands in for: two profile
    * versions planted, each pinned at construction, scored over a
    * multilingual planted corpus (each doc leads with one language's
    * marker phrase, then the REAL doc text — so scores depend on the
    * whole document and the oracle must replay the weighted sum, not
    * just the plant). v1 knows only en/de, so es/fr docs mis-classify
    * under it and re-classify under v2 — the version-pinned upgrade
    * path in one row.
    */
  val textLangidArtifact: Q = (s, d) => {
    val dir = Scratch.dir("graft_langid")
    val v1 = graft.functions.LangProfileStore.save(dir,
      plantedLangProfilesV1)
    val v2 = graft.functions.LangProfileStore.save(dir,
      plantedLangProfilesV2)
    val id = col("doc_id")
    val txt = concat(
      when(id % 4 === 0, lit("the cat and the dog of the house is to "))
        .when(id % 4 === 1, lit("der hund und die katze ist das nicht "))
        .when(id % 4 === 2, lit("el perro que los gatos una casa por "))
        .otherwise(lit("le chien et les chats une maison dans ")),
      col("text"))
    docs(s, d).select(id, txt.as("text"))
      .select(id,
        TextOps.langIdFromArtifact(col("text"), dir, v1).as("lang_v1"),
        TextOps.langIdFromArtifact(col("text"), dir, v2).as("lang_v2"))
      .orderBy("doc_id")
  }

  /** Fixture byte-encoder for windows-1252 bodies — the mirror-image
    * path of [[graft.functions.CharsetDecode]]'s decoder (the WebP
    * fixture-encoder discipline: the test writes bytes through an
    * INDEPENDENT construction, the operator reads them back). Only
    * ASCII, the latin-1 identity range and the planted 0x80–0x9F
    * specials appear in fixtures.
    */
  private[graft] def w1252Bytes(s0: String): Array[Byte] = {
    val out = new Array[Byte](s0.length)
    var i = 0
    while (i < s0.length) {
      val c = s0(i)
      out(i) = c match {
        case '€' => 0x80.toByte // €
        case '‘' => 0x91.toByte // ‘
        case '’' => 0x92.toByte // ’
        case '•' => 0x95.toByte // •
        case '–' => 0x96.toByte // –
        case '—' => 0x97.toByte // —
        case c0 if c0 < 0x100 && (c0 < 0x80 || c0 > 0x9F) => c0.toByte
        case c0 => throw new IllegalArgumentException(
          s"fixture char not in windows-1252 fixture set: U+${c0.toInt}")
      }
      i += 1
    }
    out
  }

  /** The documents table as raw BYTE bodies in a deterministic charset
    * spread ([[plantedWarcRecords]] discipline) — the fixture for the
    * bytes→text tier. doc_id % 7 rotates the detection precedence
    * ladder: a UTF-8 BOM that must beat a contradicting transport
    * label, a UTF-16LE BOM, a transport `ISO-8859-1` label (the WHATWG
    * alias that really means windows-1252 — the body plants 0x80–0x9F
    * punctuation AND a decoy `<meta charset="utf-8">` the header must
    * shadow), an in-content `<meta charset=windows-1252>`, unlabeled
    * strictly-valid UTF-8, unlabeled bytes that are INVALID UTF-8
    * (the windows-1252 fallback), and a `Shift_JIS` label (the honest
    * unsupported-label rejection).
    */
  private[graft] def plantedCharsetDocs(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("body", BinaryType),
      StructField("content_type", StringType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val utf16le = java.nio.charset.StandardCharsets.UTF_16LE
      rows.map { r =>
        val id = r.getLong(0)
        val text = r.getString(1)
        val (body, ct): (Array[Byte], String) = (id % 7).toInt match {
          case 0 =>
            (Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
              s"Doc $id é€ $text".getBytes(utf8),
              "text/html; charset=iso-8859-1")
          case 1 =>
            (Array(0xFF, 0xFE).map(_.toByte) ++
              s"Doc $id é€ $text".getBytes(utf16le), null)
          case 2 =>
            (Queries.w1252Bytes("<meta charset=\"utf-8\"> quote ’ dash " +
              s"— euro € $text"),
              "text/plain; charset=ISO-8859-1")
          case 3 =>
            (Queries.w1252Bytes("<html><head><meta charset=\"windows-1252\">" +
              s"</head><body>bullet • $text</body></html>"),
              "text/html")
          case 4 => (s"café $text".getBytes(utf8), null)
          case 5 =>
            ("mid ".getBytes(utf8) ++ Array(0x97.toByte) ++
              s" dash $text".getBytes(utf8), null)
          case _ =>
            (text.getBytes(utf8),
              "application/octet-stream; charset=Shift_JIS")
        }
        Row(id, body, ct)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** Charset sniff + decode (`text_charset_decode`,
    * [[graft.functions.CharsetDecodeExpr]]) — the bytes→text step a
    * 100 TB crawl runs between the container parse and the HTML
    * extractor, verified byte-for-byte across the full detection
    * ladder: BOM beats a contradicting header, header beats an
    * in-body meta decoy, the ISO-8859-1 alias decodes 0x80–0x9F as
    * windows-1252 punctuation, strict-UTF-8 sniffing, the legacy
    * fallback, and the named unsupported-label rejection (NULL text,
    * never mojibake). Map-only scan projection; the oracle
    * reconstructs every decoded STRING by construction (chr()
    * codepoints, no encoding round-trip through the SQL text itself).
    */
  val textCharsetDecode: Q = (s, d) =>
    plantedCharsetDocs(s, d)
      .select(col("doc_id"),
        TextOps.decodeCharset(col("body"), col("content_type")).as("c"))
      .select(col("doc_id"),
        col("c.charset").as("charset"),
        col("c.method").as("method"),
        md5(col("c.text")).as("md5_text"),
        length(col("c.text")).cast("long").as("n_chars"))
      .orderBy("doc_id")

  /** WARC → charset → clean text (`source_warc_charset`): the full
    * crawl-native byte path composed in ONE scan projection —
    * [[graft.functions.WarcParseExpr]] splits the container and the
    * HTTP message, [[graft.functions.CharsetDecodeExpr]] resolves the
    * body bytes against the Content-Type's charset parameter (which
    * [[graft.sources.WarcCodec]] preserves verbatim), and
    * [[graft.functions.HtmlExtractExpr]] strips the markup — so a
    * windows-1252 page, a UTF-16 page and an EUC-JP page (rejected by
    * name, not mojibake'd) all land in ONE typed frame. No UDF, no
    * shuffle; at 100 TB this is the ingest scan itself.
    */
  val sourceWarcCharset: Q = (s, d) => {
    val w = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("record"))))
    plantedWarcCharsetRecords(s, d)
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"),
        TextOps.decodeCharset(col("w.body"), col("w.content_type"))
          .as("c"))
      .select(col("doc_id"),
        col("c.charset").as("charset"),
        col("c.method").as("method"),
        TextOps.extractHtml(col("c.text")).as("ex"))
      .select(col("doc_id"), col("charset"), col("method"),
        md5(col("ex.text")).as("extracted_md5"),
        col("ex.n_blocks").as("n_blocks"))
      .orderBy("doc_id")
  }

  /** Single-record WARCs in a charset spread ([[plantedWarcRecords]]
    * discipline): a windows-1252 HTML response labeled in the HTTP
    * Content-Type, a UTF-16LE HTML response detected by BOM, and an
    * EUC-JP-labeled response (the unsupported-label rejection riding
    * the full WARC path).
    */
  private[graft] def plantedWarcCharsetRecords(s: SparkSession,
      d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("record", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      import graft.sources.WarcCodec
      val utf16le = java.nio.charset.StandardCharsets.UTF_16LE
      rows.map { r =>
        val id = r.getLong(0)
        val text = r.getString(1)
        val uri = s"http://site${id % 13}.com/page/${id % 7}"
        val rec: Array[Byte] = (id % 3).toInt match {
          case 0 =>
            val html = s"<html><head><title>Doc $id</title></head>" +
              s"<body><h1>Café &amp; doc $id</h1>" +
              s"<div>’ $text —</div></body></html>"
            WarcCodec.encodeResponse(uri, 200,
              "text/html; charset=windows-1252", Queries.w1252Bytes(html))
          case 1 =>
            val html = s"<html><body><h1>Doc $id</h1>" +
              s"<div>$text</div></body></html>"
            WarcCodec.encodeResponse(uri, 200, "text/html",
              Array(0xFF, 0xFE).map(_.toByte) ++ html.getBytes(utf16le))
          case _ =>
            WarcCodec.encodeResponse(uri, 200,
              "text/html; charset=EUC-JP", text.getBytes("US-ASCII"))
        }
        Row(id, rec)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** The legacy multi-byte charset plants — ONE constant drives the
    * fixture byte bodies, the oracle's chr()-reconstructed expected
    * text AND the spec's three-way cross-check, so the mapping cannot
    * drift between them. Per kind: the transport label (null = the
    * label rides an in-body `<meta`), whether the reduced v1 artifact
    * (Japanese indexes only) already decodes it, the payload BYTES
    * (hex), and the payload's expected CODE POINTS (hand-written from
    * the published mappings; [[graft.CharsetLegacySpec]] re-verifies
    * them against the JDK's own decoders). The payloads deliberately
    * walk the whole WHATWG state-machine surface: both shift_jis
    * label routes, half-width katakana in both Japanese families, the
    * gbk single-byte 0x80 euro, gb18030 two-byte + four-byte BMP +
    * four-byte supplementary, a big5 double-code-point special, a
    * malformed sequence with the spec's ASCII byte-restore, and a
    * label outside the artifact (koi8-r) that stays a NAMED rejection
    * under every pin.
    */
  private[graft] val legacyCharsetPlants: Seq[(String, Boolean, String, Seq[Int])] =
    Seq(
      // shift_jis via transport label
      ("text/html; charset=shift_jis", true,
        "82a088a4834a836993fa967b8cea836583588367",
        Seq(0x3042, 0x611B, 0x30AB, 0x30CA, 0x65E5, 0x672C, 0x8A9E,
          0x30C6, 0x30B9, 0x30C8)),
      // shift_jis via meta prescan (plus half-width katakana)
      (null, true, "93fa967b8ceab1b2b3",
        Seq(0x65E5, 0x672C, 0x8A9E, 0xFF71, 0xFF72, 0xFF73)),
      // euc-jp: jis0208 plane + 0x8E half-width plane + 0x8F jis0212
      ("text/html; charset=EUC-JP", true,
        "b0a6c6fccbdcb8eca4cfcec9a4a48eb18eb28fa2af",
        Seq(0x611B, 0x65E5, 0x672C, 0x8A9E, 0x306F, 0x826F, 0x3044,
          0xFF71, 0xFF72, 0x02D8)),
      // gbk via the gb2312 alias + the single-byte 0x80 euro
      ("text/html; charset=gb2312", false,
        "d6d0cec4b1e0c2ebb2e2cad480",
        Seq(0x4E2D, 0x6587, 0x7F16, 0x7801, 0x6D4B, 0x8BD5, 0x20AC)),
      // gb18030: two-byte, four-byte BMP pointer 0, four-byte
      // supplementary pointer 189000
      ("text/html; charset=gb18030", false, "a8a38130813090308130",
        Seq(0x01CE, 0x0080, 0x10000)),
      // big5 + the pointer-1133 double-code-point special
      ("text/html; charset=Big5", false, "a4a4a4e5b4fab8d5bb4fc6578862",
        Seq(0x4E2D, 0x6587, 0x6E2C, 0x8A66, 0x81FA, 0x7063,
          0x00CA, 0x0304)),
      // euc-kr (windows-949 plane)
      ("text/html; charset=euc-kr", false, "c7d1b1b9beee20c0cec4dab5f9",
        Seq(0xD55C, 0xAD6D, 0xC5B4, 0x0020, 0xC778, 0xCF54, 0xB529)),
      // malformed shift_jis: invalid ASCII trail restores per spec
      ("text/html; charset=Shift_JIS", true, "812082a0",
        Seq(0xFFFD, 0x0020, 0x3042)),
      // a label NO pin carries: the honest rejection survives
      ("text/html; charset=koi8-r", false, "c1c2", Seq.empty),
      // iso-2022-jp: the STATEFUL escape-based decoder — double-byte
      // jis0208, a return to ASCII, the ESC ( I katakana mode and the
      // ESC ( J Roman mode (0x5C → ¥, 0x7E → ‾), output between every
      // mode switch (two escapes with no output between are an error
      // by spec). jis0208-backed, so BOTH pins decode it.
      ("text/html; charset=iso-2022-jp", true,
        "1b244224332473244b2441244f467c4b5c386c1b2842" +
          "611b284931321b2842621b284a5c7e1b2842",
        Seq(0x3053, 0x3093, 0x306B, 0x3061, 0x306F, 0x65E5, 0x672C,
          0x8A9E, 0x61, 0xFF71, 0xFF72, 0x62, 0x00A5, 0x203E)))

  /** Single-byte plant rows: (transport label, payload hex, expected
    * code points). Payload bytes are PINNED hex (encoded offline by
    * an independent implementation); the expected code points are the
    * standard maps every implementation of these charsets shares —
    * the spec cross-validates the artifact's tables against the JDK
    * decoders byte-for-byte.
    */
  private[graft] val singleByteCharsetPlants: Seq[(String, String, Seq[Int])] =
    Seq(
      ("koi8-r", "f0d2c9d7c5d420cdc9d2",
        Seq(0x41F, 0x440, 0x438, 0x432, 0x435, 0x442, 0x20, 0x43C,
          0x438, 0x440)),
      ("koi8-u", "ebc9a7d720adc1cecfcb", // ї and ґ — the -u deltas
        Seq(0x41A, 0x438, 0x457, 0x432, 0x20, 0x491, 0x430, 0x43D,
          0x43E, 0x43A)),
      ("windows-1251", "d1fae5f8fc20e5f9b820b920e7e4e5f1fc",
        Seq(0x421, 0x44A, 0x435, 0x448, 0x44C, 0x20, 0x435, 0x449,
          0x451, 0x20, 0x2116, 0x20, 0x437, 0x434, 0x435, 0x441,
          0x44C)),
      ("iso-8859-2", "5a61bff3b3e62067eab66cb1206a61bcf1",
        Seq(0x5A, 0x61, 0x17C, 0xF3, 0x142, 0x107, 0x20, 0x67, 0x119,
          0x15B, 0x6C, 0x105, 0x20, 0x6A, 0x61, 0x17A, 0x144)),
      ("iso-8859-5", "b4ded1e0de20dfded6d0dbded2d0e2ec",
        Seq(0x414, 0x43E, 0x431, 0x440, 0x43E, 0x20, 0x43F, 0x43E,
          0x436, 0x430, 0x43B, 0x43E, 0x432, 0x430, 0x442, 0x44C)),
      ("iso-8859-7", "e3e5e9dc20f3eff520eafcf3ece5",
        Seq(0x3B3, 0x3B5, 0x3B9, 0x3AC, 0x20, 0x3C3, 0x3BF, 0x3C5,
          0x20, 0x3BA, 0x3CC, 0x3C3, 0x3BC, 0x3B5)),
      ("windows-874", "cac7d1cab4d52080", // € proves the Windows plane
        Seq(0xE2A, 0xE27, 0xE31, 0xE2A, 0xE14, 0xE35, 0x20, 0x20AC)),
      // a single-byte label NO pin carries: honest rejection survives
      ("x-mac-cyrillic", "c1c2", Seq.empty))

  /** [[singleByteCharsetPlants]] as byte bodies (`Doc <id> ` ASCII
    * prefix — identity in every single-byte charset).
    */
  private[graft] def plantedSingleByteDocs(s: SparkSession, d: String)
      : DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("body", BinaryType),
      StructField("content_type", StringType)))
    val plants = singleByteCharsetPlants.map { case (l, h, _) =>
      (s"text/html; charset=$l",
        h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    }
    docs(s, d).select(col("doc_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val (ct, payload) = plants((id % 8).toInt)
        Row(id, s"Doc $id ".getBytes("US-ASCII") ++ payload, ct)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** SINGLE-BYTE LEGACY DECODE as a versioned ROLLOUT
    * (`text_charset_singlebyte`): v1 pins the multi-byte-only
    * snapshot — every single-byte label is still a NAMED
    * `unsupported-label` rejection — and v2 pins the snapshot WITH
    * the `single:<name>` 128-entry tables (KOI8-R/U, windows-1251,
    * ISO-8859-2/5/7, windows-874), so the same rows flip from dark
    * data to decoded text under the new pin. This is the
    * versioned-artifact story at its sharpest: the koi8-r page the
    * e2e funnel honestly rejects TODAY becomes one artifact version
    * away from decoded, without changing a line of plan.
    */
  val textCharsetSinglebyte: Q = (s, d) => {
    val dir = Scratch.dir("graft_enc_single")
    val v1 = graft.functions.EncodingStore.save(dir,
      graft.functions.EncodingStore.jdkIndexes)
    val v2 = graft.functions.EncodingStore.save(dir,
      graft.functions.EncodingStore.jdkIndexes ++
        graft.functions.EncodingStore.jdkSingleIndexes)
    plantedSingleByteDocs(s, d)
      .select(col("doc_id"),
        TextOps.decodeCharsetFromArtifact(col("body"),
          col("content_type"), dir, v1).as("c1"),
        TextOps.decodeCharsetFromArtifact(col("body"),
          col("content_type"), dir, v2).as("c2"))
      .select(col("doc_id"),
        col("c1.charset").as("charset_v1"),
        col("c1.method").as("method_v1"),
        md5(col("c1.text")).as("md5_v1"),
        col("c2.charset").as("charset_v2"),
        col("c2.method").as("method_v2"),
        md5(col("c2.text")).as("md5_v2"),
        length(col("c2.text")).cast("long").as("n_chars_v2"))
      .orderBy("doc_id")
  }

  /** The documents table as legacy-encoded byte bodies: doc_id % 10
    * selects a [[legacyCharsetPlants]] row; the body is an ASCII
    * prefix (the meta tag for the meta-label kind, then `Doc <id> `)
    * followed by the planted payload bytes — ASCII is identity in all
    * five families, so the per-doc prefix rides every state machine.
    */
  private[graft] def plantedLegacyDocs(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("body", BinaryType),
      StructField("content_type", StringType)))
    val plants = legacyCharsetPlants.map { case (ct, _, h, _) =>
      (ct, h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    }
    docs(s, d).select(col("doc_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val (ct, payload) = plants((id % 10).toInt)
        val prefix =
          (if (ct == null) "<meta charset=shift_jis>" else "") +
            s"Doc $id "
        Row(id, prefix.getBytes("US-ASCII") ++ payload, ct)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** LEGACY MULTI-BYTE DECODE from a VERSIONED artifact
    * (`text_charset_legacy`, [[graft.functions.EncodingStore]] +
    * [[graft.functions.CharsetDecodeArtifactExpr]]) — the load path
    * that un-NULLs the largest dark-data population the embedded
    * ladder honestly rejects: Shift_JIS/EUC-JP/GBK/Big5/EUC-KR pages.
    * Two pins over the SAME rows: v1 carries only the Japanese
    * indexes (its gbk/big5/euc-kr labels stay NAMED rejections), v2
    * carries all five plus the gb18030 four-byte ranges — the
    * version-pinned rollout path in one frame, PSL-style. Each pin's
    * decoded text is md5-verified byte-for-byte against the oracle's
    * chr()-codepoint reconstruction from the same plant constant.
    * Map-only scan projection; the index tables ship inside the plan
    * exactly like the tokenizer/PSL/language-profile artifacts.
    */
  val textCharsetLegacy: Q = (s, d) => {
    val dir = Scratch.dir("graft_enc_legacy")
    val v1 = graft.functions.EncodingStore.save(dir,
      graft.functions.EncodingStore.jdkIndexes.filter(e =>
        e._1 == "jis0208" || e._1 == "jis0212"))
    val v2 = graft.functions.EncodingStore.save(dir,
      graft.functions.EncodingStore.jdkIndexes,
      graft.functions.EncodingStore.jdkRanges)
    plantedLegacyDocs(s, d)
      .select(col("doc_id"),
        TextOps.decodeCharsetFromArtifact(col("body"),
          col("content_type"), dir, v1).as("c1"),
        TextOps.decodeCharsetFromArtifact(col("body"),
          col("content_type"), dir, v2).as("c2"))
      .select(col("doc_id"),
        col("c1.charset").as("charset_v1"),
        col("c1.method").as("method_v1"),
        md5(col("c1.text")).as("md5_v1"),
        col("c2.charset").as("charset_v2"),
        col("c2.method").as("method_v2"),
        md5(col("c2.text")).as("md5_v2"),
        length(col("c2.text")).cast("long").as("n_chars_v2"))
      .orderBy("doc_id")
  }

  /** robots.txt POLICY GATE (`pipeline_robots_filter`,
    * [[graft.functions.RobotsOps]]) — the crawl politeness step in its
    * production join shape: thirteen planted per-domain policy files
    * (named-agent groups that shadow `*`, longest-match allow-over-
    * disallow, the empty-Disallow idiom, comments) broadcast-joined
    * onto every page by registrable domain, each path judged by the
    * RFC 9309 semantics. The oracle replays the DECISION per doc from
    * the planted rule structure — group selection, prefix match and
    * tie-breaking verified end-to-end, not just parse success.
    */
  val pipelineRobotsFilter: Q = (s, d) => {
    // the production pair: each domain's file parses ONCE, on the
    // small side of the broadcast — pages only prefix-match
    val robots = plantedCrawlRobots(s)
    val id = col("doc_id")
    docs(s, d).select(id,
        concat(lit("site"), (id % 13).cast("string"), lit(".com"))
          .as("domain"),
        concat(lit("/A/b"), (id % 9).cast("string")).as("path"))
      .join(broadcast(robots), Seq("domain"))
      .select(col("doc_id"), col("domain"), col("path"),
        graft.functions.RobotsOps.rulesAllowed(col("rules"),
          col("path")).as("allowed"))
      .orderBy("doc_id")
  }

  /** RFC 9309 WILDCARD rules end-to-end (`text_robots_wildcards`,
    * [[graft.functions.RobotsOps.patternMatches]]) — the `*`/`$`
    * special characters through the PRODUCTION pair (parse once,
    * match per page): one fixed policy file mixing anchored
    * star-dot-php extension rules, a longer wildcard Allow carving a
    * hole in it, an unanchored star family and a case trap; eight
    * planted path kinds hit every branch — anchor respected past the
    * path end, most-octets precedence between wildcard rules,
    * case-sensitive matching. The oracle replays each kind's verdict
    * by construction.
    */
  val textRobotsWildcards: Q = (s, d) => {
    import s.implicits._
    val policies = Seq(
      ("w0.example", "User-agent: graftbot\n" +
        "Disallow: /*.php$\n" +
        "Allow: /shop/*.php$\n" +
        "Disallow: /fish*\n" +
        "Allow: /fish/ok\n"),
      // block every query-string URL — the classic star-question-star
      ("w1.example", "User-agent: *\nDisallow: /*?*\n"),
      // root-only site: the anchored Allow outranks nothing but /
      ("w2.example", "User-agent: *\nAllow: /$\nDisallow: /\n"))
    val robots = policies.toDF("domain", "robots_txt")
      .select(col("domain"), graft.functions.RobotsOps
        .robotsRules(col("robots_txt"), "GraftBot").as("rules"))
    val id = col("doc_id")
    val path = when(id % 8 === 0, lit("/index.php"))
      .when(id % 8 === 1, lit("/index.php?x=1"))
      .when(id % 8 === 2, lit("/shop/a.php"))
      .when(id % 8 === 3, lit("/fishheads"))
      .when(id % 8 === 4, lit("/fish/ok/page"))
      .when(id % 8 === 5, lit("/Fish"))
      .when(id % 8 === 6, concat(lit("/page"), (id % 7).cast("string")))
      .otherwise(lit("/deep/x.php"))
    docs(s, d).select(id,
        concat(lit("w"), (id % 3).cast("string"), lit(".example"))
          .as("domain"), path.as("path"))
      .join(broadcast(robots), Seq("domain"))
      .select(col("doc_id"), col("domain"), col("path"),
        graft.functions.RobotsOps.rulesAllowed(col("rules"),
          col("path")).as("allowed"))
      .orderBy("doc_id")
  }

  /** URL-keyED dedup (`dedup_url`) — the crawl dedup that runs BEFORE
    * any content fingerprint: refetches of one page under different
    * aliases (scheme/host case, default ports, tracking decoration,
    * fragments) collapse under the canonical key. The plant is
    * deliberately coarse (13 sites × 7 pages) so every canonical URL
    * carries many alias variants; the aggregate keeps the smallest
    * doc id per key with the alias count — one map-side-combined
    * groupBy, the [[Dedup.exact]] shape with the canonical URL as the
    * digest.
    */
  val dedupUrl: Q = (s, d) => {
    val id = col("doc_id")
    val url = concat(
      when(id % 2 === 0, lit("HTTP")).otherwise(lit("http")),
      lit("://Site"), (id % 13).cast("string"), lit(".com"),
      when(id % 4 === 0, lit(":80")).otherwise(lit("")),
      lit("/page/"), (id % 7).cast("string"),
      when(id % 3 === 0, lit("?utm_source=feed")).otherwise(lit("")),
      when(id % 5 === 0, lit("#sec")).otherwise(lit("")))
    docs(s, d).select(id, url.as("url"))
      .select(id,
        graft.functions.UrlOps.canonicalizeUrl(col("url")).as("url_canon"))
      .groupBy("url_canon")
      .agg(min("doc_id").as("keep_id"),
        count(lit(1)).cast("long").as("n_aliases"))
      .orderBy("url_canon")
  }

  /** The documents table wrapped as a linked page — the DISCOVERY
    * fixture ([[htmlAugmentedDocs]] discipline: every construction is
    * replayed in the oracle). Each doc lives at a deterministic clean
    * URL and carries nine links exercising every RFC 3986 reference
    * shape: an absolute link needing canonicalization (case, default
    * port, tracking param, fragment, `&amp;` entities), a relative
    * path, dot segments, a protocol-relative ref, a query-only ref, an
    * entity-bearing absolute path, a `mailto:` (scheme passthrough,
    * canonical NULL), a fragment-only ref (resolves to the page — the
    * seen-set must eat it) and a self link. Every fourth doc carries a
    * `<base href>` that redirects ALL relative resolution; a script
    * plants a fake link the raw-text rule must ignore.
    */
  private[graft] def linkPageDocs(s: SparkSession, d: String): DataFrame =
    linkPageColumns(docs(s, d))

  /** The [[linkPageDocs]] construction applied to ANY (doc_id, text)
    * frame — batch or stream (the columns are stateless, so the
    * streaming twin shares them verbatim).
    */
  private[graft] def linkPageColumns(docsDf: DataFrame): DataFrame = {
    val id = col("doc_id")
    val a = (id % 13).cast("string")
    val b = (id % 7).cast("string")
    val c = (id % 9).cast("string")
    val e = (id % 5).cast("string")
    val m = (id % 3).cast("string")
    val a1 = ((id + 1) % 13).cast("string")
    val c1 = ((id + 1) % 9).cast("string")
    val pageUrl = concat(lit("http://site"), a, lit(".com/dir"), b,
      lit("/page"), c, lit(".html"))
    val baseTag = when(id % 4 === 0,
      concat(lit("<base href=\"https://base"), m, lit(".org/bx/\">")))
      .otherwise(lit(""))
    val html = concat(
      lit("<html><head><title>Doc links</title>"), baseTag,
      lit("<script>var x = '<a href=\"/script-noise\">';</script>" +
        "</head><body>"),
      lit("<a href=\"HTTPS://Ext"), e,
      lit(".COM:443/x?b=2&amp;utm_source=x&amp;a=1#f\">abs</a>"),
      lit("<a href='sub/p"), c1, lit("'>rel</a>"),
      lit("<a href=\"../up/./q"), m, lit("\">dots</a>"),
      lit("<a href=\"//site"), a1, lit(".com/root\">proto</a>"),
      lit("<a href=\"?q="), (id % 4).cast("string"), lit("\">query</a>"),
      lit("<a href=\"/e?a=1&amp;b="), (id % 6).cast("string"),
      lit("\">esc</a>"),
      lit("<a href=\"mailto:u"), b, lit("@x.com\">mail</a>"),
      lit("<a href=\"#sec"), m, lit("\">frag</a>"),
      lit("<a href=\"page"), c, lit(".html\">self</a>"),
      lit("</body></html>"))
    docsDf.select(id, pageUrl.as("page_url"), html.as("html"))
  }

  /** LINK EXTRACTION + RESOLUTION (`text_html_links`,
    * [[graft.functions.HtmlLinks]] → [[graft.functions.UrlOps
    * .resolveUrl]] → [[graft.functions.UrlOps.canonicalizeUrl]]) —
    * the crawl's discovery step verified STRING EQUAL per link
    * position: raw hrefs out of the markup (entity decode, quoting
    * states, base-tag override, raw-text immunity), resolved per
    * RFC 3986 §5 strict, then keyed canonical. Map-only scan
    * projection until the final order; at 100 TB this is the fused
    * projection that feeds the frontier's seen-set anti-join.
    */
  val textHtmlLinks: Q = (s, d) => {
    linkPageDocs(s, d)
      .select(col("doc_id"),
        graft.functions.HtmlLinks.htmlLinks(col("html")).as("lk"),
        col("page_url"))
      .withColumn("eff_base",
        coalesce(graft.functions.UrlOps.resolveUrl(col("page_url"),
          col("lk.base")), col("page_url")))
      .select(col("doc_id"), col("eff_base"),
        posexplode(col("lk.links")).as(Seq("pos", "href")))
      .withColumn("resolved",
        graft.functions.UrlOps.resolveUrl(col("eff_base"), col("href")))
      .withColumn("url_canon",
        graft.functions.UrlOps.canonicalizeUrl(col("resolved")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("resolved"), col("url_canon"))
      .orderBy("doc_id", "pos")
  }

  /** The shared edge projection behind the anchor-text and link-graph
    * queries: every resolved, canonical http(s) link from the planted
    * pages with its anchor TEXT — one scanner pass per page
    * ([[graft.functions.HtmlExtract.anchors]] rides the block walk),
    * map-only until the consumer aggregates.
    */
  private[graft] def anchorEdges(s: SparkSession, d: String): DataFrame =
    linkPageDocs(s, d)
      .select(col("doc_id"), col("page_url"),
        graft.functions.HtmlLinks.htmlAnchors(col("html")).as("ank"))
      .withColumn("eff_base",
        coalesce(graft.functions.UrlOps.resolveUrl(col("page_url"),
          col("ank.base")), col("page_url")))
      .select(col("doc_id"), col("page_url"), col("eff_base"),
        explode(col("ank.anchors")).as("a"))
      .withColumn("url_canon", graft.functions.UrlOps.canonicalizeUrl(
        graft.functions.UrlOps.resolveUrl(col("eff_base"),
          col("a.href"))))
      .where(col("url_canon").isNotNull &&
        (col("url_canon").startsWith("http://") ||
         col("url_canon").startsWith("https://")))
      .select(col("doc_id"), col("page_url"),
        col("url_canon").as("target"), col("a.text").as("atext"))

  /** ANCHOR-TEXT AGGREGATION (`text_anchor_agg`) — how the WEB
    * describes each page, the classic retrieval/curation signal a
    * page's own text cannot provide: every href-carrying anchor's
    * decoded text ([[graft.functions.HtmlExtract.anchors]] — the SAME
    * scanner pass as block extraction), resolved and canonicalized to
    * its target, then aggregated per target across the corpus.
    * Map-only scan projection into ONE hash aggregation on the target
    * URL — at 100 TB this is the exact shape of a production
    * anchor-text corpus build (WAT-file scale), with the text set
    * bounded per target by distinctness.
    */
  val textAnchorAgg: Q = (s, d) =>
    anchorEdges(s, d)
      .groupBy(col("target"))
      .agg(count(lit(1)).as("n_refs"),
        countDistinct(col("doc_id")).as("n_pages"),
        array_join(sort_array(collect_set(col("atext"))), "|")
          .as("texts"))
      .orderBy("target")

  /** LINK-GRAPH CENTRALITY (`pipeline_pagerank`) — 3 power iterations
    * of PageRank over the canonical link graph, the frontier
    * prioritization signal (crawl the pages the web votes for first).
    * INTEGER-EXACT by contract so the oracle can replay it without
    * floating-point summation-order hazards: ranks live in nanos of
    * probability mass, `pr0 = 10^9 / N`, and each iteration computes
    * `pr' = (15·(10^9/N))/100 + (85·(Σ_{u→v} pr(u)/outdeg(u) +
    * dangling/N))/100` with FLOOR division at every step (`dangling` =
    * the rank mass sitting on nodes with no outlinks, redistributed
    * uniformly). Self-loops are dropped (a page voting for itself is
    * not a signal). Scale shape: nodes/edges are DOMAIN-cardinality
    * (bounded by the planted mod cycles, not the corpus), each
    * iteration is one shuffle join on the edge key + one aggregation —
    * the classic distributed PageRank step, no driver-side loops, the
    * dangling mass a 1-row broadcast.
    */
  /** The canonical link graph + its 3-iteration integer rank — shared
    * by [[pipelinePagerank]] (the rank table itself) and
    * [[pipelineCrawlPriority]] (OPIC scoring of the frontier). The
    * graph is a STANDING ARTIFACT, not a per-query rebuild: the edge
    * scan seeds a [[graft.operators.LinkGraph]] store (the
    * EpochStore versioned-batch convention) once per (session, dir)
    * and every consumer probes the stored edges — the honest 100 TB
    * shape (no production crawler re-walks every page's anchors per
    * consumer query; `pipeline_pagerank_incremental` proves the
    * maintained store ranks identically to this build). Memoized in
    * a BOUNDED LRU so a long-lived multi-tenant session cannot leak
    * one handle per corpus dir. Returns (edges(src, dst),
    * pr(node, pr, n)).
    */
  private[graft] val linkGraphCache =
    new graft.plans.BoundedCache[(SparkSession, String),
      (DataFrame, DataFrame)](maxEntries = 8)

  private[graft] def linkGraphRanks(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    linkGraphCache.getOrElseUpdate((s, d))(linkGraphRanksBuild(s, d))

  private[graft] def linkGraphRanksBuild(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    // stable root per corpus dir + committed-epoch reuse: a cache miss
    // after LRU eviction re-reads the already-seeded store instead of
    // claiming a fresh epoch (the seeded edge set for a dir is
    // deterministic, so reuse is sound and nothing accumulates on disk)
    val root = Scratch.stable("graft_linkgraph_" +
      java.lang.Integer.toHexString(d.hashCode))
    val ref =
      if (graft.streaming.EpochStore.epochs(root).nonEmpty)
        graft.streaming.EpochStore.current(root)
      else graft.operators.LinkGraph.seed(
        anchorEdges(s, d)
          .select(col("page_url").as("src"), col("target").as("dst"))
          .where(col("src") =!= col("dst")),
        root)
    // the stored parquet IS the materialization — consumers re-read
    // it partition-parallel; only the three-iteration rank needs a
    // shared checkpoint (its plan feeds the rank query, the OPIC
    // scorer, and any later consumer)
    val edges = graft.operators.LinkGraph.edges(s, ref)
    (edges, graft.plans.LazyCheckpoint.shared(
      graft.operators.LinkGraph.ranks(edges)))
  }

  /** The rank TABLE projection shared by the in-session build and
    * the incrementally maintained store: ranks joined with in/out
    * degree.
    */
  private[graft] def rankTableOf(edges: DataFrame, pr: DataFrame): DataFrame = {
    val outdeg = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"))
    val indeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("n_in"))
    pr.join(outdeg, pr("node") === outdeg("src"), "left")
      .join(indeg, pr("node") === indeg("dst"), "left")
      .select(col("node"), col("pr").cast("long").as("pr_nano"),
        coalesce(col("n_in"), lit(0L)).cast("long").as("n_in"),
        coalesce(col("outdeg"), lit(0L)).cast("long").as("n_out"))
      .orderBy("node")
  }

  val pipelinePagerank: Q = (s, d) => {
    val (edges, pr) = linkGraphRanks(s, d)
    rankTableOf(edges, pr)
  }

  /** INCREMENTALLY MAINTAINED LINK GRAPH
    * (`pipeline_pagerank_incremental`) — the standing-store lifecycle
    * proven end to end: seed a [[graft.operators.LinkGraph]] store
    * with the edges of two-thirds of the pages, land the remaining
    * pages' edges as discovery-wave batch 1, REDELIVER the same wave
    * (at-least-once → exactly-once: the batch directory overwrites
    * wholesale, and duplicate edge observations fold at read), then
    * rank over the STORED graph. The oracle is the SAME full-graph
    * replay as `pipeline_pagerank` — stored + maintained must rank
    * identically to the in-query rebuild, which is the equivalence
    * that makes the standing artifact trustworthy.
    */
  val pipelinePagerankIncremental: Q = (s, d) => {
    val all = anchorEdges(s, d)
      .select(col("doc_id"), col("page_url").as("src"),
        col("target").as("dst"))
      .where(col("src") =!= col("dst"))
    val ref = graft.operators.LinkGraph.seed(
      all.where(col("doc_id") % 3 =!= 2), Scratch.dir("graft_lg_inc"))
    val wave = all.where(col("doc_id") % 3 === 2)
    graft.operators.LinkGraph.ingest(wave, ref, batchId = 1L)
    // the redelivery: same wave, same batch id — idempotent
    graft.operators.LinkGraph.ingest(wave, ref, batchId = 1L)
    val edges = graft.operators.LinkGraph.edges(s, ref)
    rankTableOf(edges, graft.operators.LinkGraph.ranks(edges))
  }

  /** CRAWL PRIORITIZATION (`pipeline_crawl_priority`) — the discovery
    * tier composed END TO END: frontier candidates (link extraction →
    * canonical dedup → seen-set anti-join) gated by robots, then
    * SCORED by the rank mass their referrers forward (the OPIC rule:
    * priority(url) = Σ over referrers u of pr(u)/outdeg(u), in the
    * same integer nanos as [[pipelinePagerank]]) and capped at the
    * top 3 per domain — rank-ordered politeness, which is how a real
    * crawler actually spends its per-host budget. The per-domain
    * `Window` is partitioned by the politeness unit, so the top-k
    * never sorts more than one domain's candidates in one place.
    */
  val pipelineCrawlPriority: Q = (s, d) => {
    val (edges, pr) = linkGraphRanks(s, d)
    val outdeg = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"))
    val contrib = pr.join(outdeg, pr("node") === outdeg("src"))
      .select(col("node"), col("pr"), col("outdeg"))
      .join(edges.as("e"), col("node") === col("e.src"))
      .select(col("e.dst").as("dst"), expr("pr div outdeg").as("share"))
      .groupBy(col("dst")).agg(sum(col("share")).as("priority"))
    val allowed = frontierCandidates(s, d)
      .join(broadcast(plantedFrontierRobots(s)), Seq("domain"))
      .where(graft.functions.RobotsOps.rulesAllowed(col("rules"),
        col("path")))
      .select(col("domain"), col("url"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"))
      .orderBy(col("priority").desc, col("url").asc)
    allowed.join(contrib, allowed("url") === contrib("dst"), "left")
      .select(col("domain"), col("url"),
        coalesce(col("priority"), lit(0L)).cast("long").as("priority"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .orderBy("domain", "rk")
  }

  /** RECRAWL SCHEDULING (`pipeline_recrawl_schedule`) — the change-
    * rate estimator that decides which pages a crawler re-fetches
    * first: five planted fetch observations per URL (hourly waves,
    * content digests changing at a per-URL rate — every wave / every
    * other wave / once / never), change detection as a lag window
    * PARTITIONED BY URL, the interval estimate `Δ = span div
    * (n_changes + 1)` in integer seconds (never-changed pages take
    * the 86400 s max backoff), `next_due = last_fetch + Δ`, and the
    * due set at the reference time ranked per DOMAIN (staleness
    * desc) under a top-2 politeness budget — the window partitioned
    * by the politeness unit, like the priority query. Every number
    * integer, the whole schedule replayed closed-form by kind.
    */
  val pipelineRecrawlSchedule: Q = (s, d) => {
    val t0 = 1735689600L // 2025-01-01T00:00:00Z, fixed epoch seconds
    val obs = docs(s, d)
      .select(col("doc_id"), (col("doc_id") % 13).cast("string").as("a"),
        (col("doc_id") % 4).as("kind"))
      .withColumn("w", explode(sequence(lit(0), lit(4))))
      .select(col("doc_id"),
        concat(lit("site"), col("a"), lit(".com")).as("domain"),
        concat(lit("http://site"), col("a"), lit(".com/page/"),
          col("doc_id").cast("string")).as("url"),
        (lit(t0) + col("w").cast("long") * 3600L).as("ts"),
        when(col("kind") === 0, col("w"))
          .when(col("kind") === 1, expr("w div 2"))
          .when(col("kind") === 2, when(col("w") === 0, 0).otherwise(1))
          .otherwise(0).cast("long").as("digest"))
    val wUrl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url")).orderBy(col("ts"))
    val changed = obs
      .withColumn("prev", lag(col("digest"), 1).over(wUrl))
      .withColumn("chg",
        (col("prev").isNotNull && col("digest") =!= col("prev"))
          .cast("long"))
    val perUrl = changed.groupBy(col("domain"), col("url"))
      .agg(sum(col("chg")).as("n_changes"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .withColumn("interval_s",
        when(col("n_changes") === 0, lit(86400L))
          .otherwise(expr("(last_ts - first_ts) div (n_changes + 1)")))
      .withColumn("next_due", col("last_ts") + col("interval_s"))
    val ref = t0 + 6 * 3600L
    val wDom = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"))
      .orderBy(col("staleness").desc, col("url").asc)
    perUrl.where(col("next_due") <= ref)
      .withColumn("staleness", (lit(ref) - col("next_due")).cast("long"))
      .withColumn("rk", row_number().over(wDom).cast("long"))
      .where(col("rk") <= 2)
      .select(col("domain"), col("url"),
        col("n_changes").cast("long").as("n_changes"),
        col("interval_s").cast("long").as("interval_s"),
        col("staleness"), col("rk"))
      .orderBy("domain", "rk")
  }

  /** CONDITIONAL-FETCH RECRAWL (`pipeline_recrawl_conditional`) — the
    * validator half of the fetch-budget arithmetic
    * ([[pipelineRecrawlSchedule]]'s missing signal): pages whose
    * server honors `ETag`/`If-None-Match` answer an unchanged recrawl
    * with a bodiless `304 Not Modified` — a ZERO-COST "content
    * unchanged" confirmation. The planted observation streams rotate
    * the same per-URL change rates as the schedule query (every wave
    * / every other / once / never), but EVEN docs' servers support
    * validators (unchanged waves arrive as 304s carrying the
    * confirmed ETag, no body) while ODD docs' do not (every wave is a
    * full 200 refetch). The estimator treats a 304 as an unchanged
    * observation — change detection compares each full body's digest
    * against the LAST FULL digest (`last_value IGNORE NULLS`, the
    * SQL-replayable form) so the interval estimate is IDENTICAL for
    * both server kinds; what differs is the budget: `bytes_fetched`
    * vs `bytes_saved` counts what conditional requests avoided
    * re-downloading. Windows partitioned by URL, one aggregation —
    * the schedule query's scale shape.
    */
  val pipelineRecrawlConditional: Q = (s, d) => {
    val t0 = 1735689600L // 2025-01-01T00:00:00Z
    val obs = docs(s, d)
      .select(col("doc_id"), (col("doc_id") % 13).cast("string").as("a"),
        (col("doc_id") % 4).as("kind"),
        (col("doc_id") % 2 === 0).as("cond"))
      .withColumn("w", explode(sequence(lit(0), lit(4))))
      .withColumn("dig",
        when(col("kind") === 0, col("w"))
          .when(col("kind") === 1, expr("w div 2"))
          .when(col("kind") === 2, when(col("w") === 0, 0).otherwise(1))
          .otherwise(0).cast("long"))
      .withColumn("prev_dig", when(col("w") > 0,
        when(col("kind") === 0, col("w") - 1)
          .when(col("kind") === 1, expr("(w - 1) div 2"))
          .when(col("kind") === 2,
            when(col("w") === 1, 0).otherwise(1))
          .otherwise(0).cast("long")))
      .withColumn("changed",
        col("w") === 0 || col("dig") =!= col("prev_dig"))
      .select(col("doc_id"),
        concat(lit("site"), col("a"), lit(".com")).as("domain"),
        concat(lit("http://site"), col("a"), lit(".com/page/"),
          col("doc_id").cast("string")).as("url"),
        (lit(t0) + col("w").cast("long") * 3600L).as("ts"),
        when(col("changed") || !col("cond"), lit(200))
          .otherwise(lit(304)).cast("int").as("status"),
        // a 304 carries NO body: digest only on full fetches
        when(col("changed") || !col("cond"), col("dig")).as("digest"),
        concat(lit("W/\""), col("dig").cast("string"), lit("\""))
          .as("etag"),
        (lit(100L) + col("doc_id") % 50).as("body_bytes"),
        col("cond"))
    val wUrl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url")).orderBy(col("ts"))
    val wPrev = wUrl.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val est = obs
      .withColumn("prev_full",
        last(col("digest"), ignoreNulls = true).over(wPrev))
      .withColumn("chg",
        (col("status") === 200 && col("prev_full").isNotNull &&
          col("digest") =!= col("prev_full")).cast("long"))
      .groupBy(col("domain"), col("url"), col("cond"))
      .agg(
        sum(when(col("status") === 200, 1L).otherwise(0L)).as("n_full"),
        sum(when(col("status") === 304, 1L).otherwise(0L))
          .as("n_not_modified"),
        sum(when(col("status") === 200, col("body_bytes"))
          .otherwise(0L)).as("bytes_fetched"),
        sum(when(col("status") === 304, col("body_bytes"))
          .otherwise(0L)).as("bytes_saved"),
        sum(col("chg")).as("n_changes"),
        // the validator the NEXT conditional request sends:
        // If-None-Match with the latest observation's ETag
        max_by(col("etag"), col("ts")).as("next_validator"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .withColumn("interval_s",
        when(col("n_changes") === 0, lit(86400L))
          .otherwise(expr("(last_ts - first_ts) div (n_changes + 1)")))
    est.select(col("domain"), col("url"), col("cond"),
        col("n_full").cast("long").as("n_full"),
        col("n_not_modified").cast("long").as("n_not_modified"),
        col("bytes_fetched").cast("long").as("bytes_fetched"),
        col("bytes_saved").cast("long").as("bytes_saved"),
        col("n_changes").cast("long").as("n_changes"),
        col("next_validator"),
        col("interval_s").cast("long").as("interval_s"))
      .orderBy("url")
  }

  /** Capture streams with WARC `revisit` records
    * ([[graft.sources.WarcCodec.encodeRevisit]]): five waves per URL
    * on the [[pipelineRecrawlSchedule]] change-rate rotation
    * (doc_id % 4 — every wave / every other / once / never), but as
    * the records a real crawler WRITES: a full `response` (with
    * WARC-Record-ID) when the content changed, a `revisit` referring
    * to the last full capture (WARC-Refers-To + its target URI + the
    * payload's md5 digest) when it did not — ~10-15% of a real
    * Common Crawl segment is revisits, and a funnel that filters
    * `warc_type = 'response'` silently loses them.
    */
  private[graft] def plantedRevisitRecords(s: SparkSession,
      d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("w", IntegerType),
      StructField("record", BinaryType)))
    docs(s, d).select(col("doc_id")).mapPartitions { rows =>
      import graft.sources.WarcCodec
      val md = java.security.MessageDigest.getInstance("MD5")
      def md5hex(s: String): String =
        md.digest(s.getBytes("US-ASCII"))
          .map(b => f"${b & 0xff}%02x").mkString
      rows.flatMap { r =>
        val id = r.getLong(0)
        val kind = (id % 4).toInt
        val url = s"http://site${id % 13}.com/page/$id"
        def digest(w: Int): Int = kind match {
          case 0 => w
          case 1 => w / 2
          case 2 => math.min(w, 1)
          case _ => 0
        }
        def content(w: Int): String = s"doc $id body rev ${digest(w)}"
        def rid(w: Int): String = s"urn:uuid:doc-$id-w$w"
        var lastFull = 0
        (0 to 4).map { w =>
          val date = s"2025-01-01T0$w:00:00Z"
          val changed = w == 0 || digest(w) != digest(w - 1)
          val rec =
            if (changed) {
              lastFull = w
              WarcCodec.encodeResponse(url, 200, "text/html",
                content(w).getBytes("US-ASCII"), date,
                recordId = rid(w))
            } else WarcCodec.encodeRevisit(url,
              refersTo = rid(lastFull), refersToUri = url,
              payloadDigest = "md5:" + md5hex(content(lastFull)),
              date = date)
          Row(id, w, rec)
        }
      }
    }(Encoders.row(schema)).toDF()
  }

  /** REVISIT RESOLUTION + VALIDATOR-AWARE RECRAWL
    * (`pipeline_revisit_resolve`) — the revisit channel consumed, not
    * dropped: parse the capture stream
    * ([[graft.functions.WarcParseExpr]], which now surfaces
    * record_id/warc_date/refers_to/refers_to_uri/payload_digest),
    * COLLAPSE every revisit onto its original capture (equi-join on
    * the referent record id; `n_resolved` counts only revisits whose
    * referent exists, names the same target URI, AND whose payload
    * digest matches the original body's md5 — provenance and
    * consistency, not just a join hit), and feed the change estimator
    * the full observation stream: responses contribute their own body
    * digest, revisits contribute the referent's digest VERBATIM — the
    * zero-cost "content unchanged" confirmation the estimator was
    * blind to (`pipeline_recrawl_schedule` sees only full fetches).
    * Same lag-window + integer interval contract as the schedule
    * query; every shuffle hashes on the URL. `resolved_ids` pins
    * WHICH captures the revisits collapsed onto.
    */
  val pipelineRevisitResolve: Q = (s, d) => {
    val w = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("record"))))
    val parsed = plantedRevisitRecords(s, d)
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"),
        col("w.warc_type").as("wtype"),
        col("w.target_uri").as("url"),
        col("w.record_id").as("rid"),
        col("w.warc_date").cast("timestamp").cast("long").as("ts"),
        col("w.refers_to").as("ref_id"),
        col("w.refers_to_uri").as("ref_uri"),
        regexp_replace(col("w.payload_digest"), "^md5:", "")
          .as("pdig"),
        md5(col("w.body")).as("body_md5"))
    val resp = parsed.where(col("wtype") === "response")
    val rev = parsed.where(col("wtype") === "revisit")
    val revFacts = rev
      .join(resp.select(col("rid").as("ref_id"),
          col("url").as("orig_url"), col("body_md5").as("orig_md5")),
        Seq("ref_id"), "left")
      .groupBy(col("url"))
      .agg(count(lit(1)).as("n_revisits"),
        sum(when(col("orig_url") === col("ref_uri") &&
          col("orig_md5") === col("pdig"), 1L).otherwise(0L))
          .as("n_resolved"),
        array_join(sort_array(collect_set(
          when(col("orig_url").isNotNull, col("ref_id")))), "|")
          .as("resolved_ids"))
    // the estimator's observations: full fetches carry their body
    // digest, revisits their referent's — both land in one stream
    val obs = resp.select(col("url"), col("ts"),
        col("body_md5").as("dig"))
      .union(rev.select(col("url"), col("ts"), col("pdig").as("dig")))
    val wUrl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url")).orderBy(col("ts"))
    val est = obs
      .withColumn("prev", lag(col("dig"), 1).over(wUrl))
      .withColumn("chg",
        (col("prev").isNotNull && col("dig") =!= col("prev"))
          .cast("long"))
      .groupBy(col("url"))
      .agg(sum(col("chg")).as("n_changes"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .withColumn("interval_s",
        when(col("n_changes") === 0, lit(86400L))
          .otherwise(expr("(last_ts - first_ts) div (n_changes + 1)")))
    val nResp = resp.groupBy(col("url"))
      .agg(count(lit(1)).as("n_resp"))
    nResp.join(revFacts, Seq("url"), "left").join(est, Seq("url"))
      .select(
        regexp_extract(col("url"), "^http://([^/]+)/", 1).as("domain"),
        col("url"),
        col("n_resp").cast("long").as("n_resp"),
        coalesce(col("n_revisits"), lit(0L)).cast("long")
          .as("n_revisits"),
        coalesce(col("n_resolved"), lit(0L)).cast("long")
          .as("n_resolved"),
        coalesce(col("resolved_ids"), lit("")).as("resolved_ids"),
        col("n_changes").cast("long").as("n_changes"),
        col("interval_s").cast("long").as("interval_s"))
      .orderBy("url")
  }

  /** Per-domain policy files for the frontier: rules AND directives
    * parse once on the domain side (the [[plantedCrawlRobots]]
    * production shape, extended with `Crawl-delay`). site domains
    * alternate blocking `/up` (even, fractional delay) and `/root`
    * (odd, integer delay); ext domains have a NAMED graftbot group
    * (shadows `*`, no delay → NULL); base domains block `/e` with a
    * sub-second delay.
    */
  private[graft] def plantedFrontierRobots(s: SparkSession): DataFrame = {
    import s.implicits._
    val rows =
      (0 until 13).map { n =>
        val delay = s"${1 + n % 3}" + (if (n % 2 == 0) ".5" else "")
        val block = if (n % 2 == 0) "/up" else "/root"
        (s"site$n.com",
          s"Sitemap: http://site$n.com/sitemap.xml\n" +
            s"User-agent: *\nDisallow: $block\nCrawl-delay: $delay\n")
      } ++
      (0 until 5).map { e =>
        (s"ext$e.com",
          "User-agent: graftbot\nDisallow: /y\n" +
            "User-agent: *\nDisallow: /x\nCrawl-delay: 7\n")
      } ++
      (0 until 3).map { m =>
        (s"base$m.org",
          "User-agent: *\nDisallow: /e\nCrawl-delay: 0.5\n")
      }
    rows.toDF("domain", "robots_txt")
      .select(col("domain"),
        graft.functions.RobotsOps.robotsRules(col("robots_txt"),
          "GraftBot").as("rules"),
        graft.functions.RobotsOps.robotsDirectives(col("robots_txt"),
          "GraftBot").as("dir"))
      .select(col("domain"), col("rules"),
        col("dir.crawl_delay").as("crawl_delay"),
        col("dir.sitemaps").as("sitemaps"))
  }

  /** The frontier candidate set: pages → links → resolve →
    * canonicalize → http(s) only → distinct → anti-join the seen set
    * (the pages' own canonical URLs) → registrable domain + path.
    * Shared by `pipeline_crawl_frontier` and
    * `pipeline_polite_schedule`.
    */
  /** The STATELESS extraction half of the frontier — per page row:
    * links out of the markup, resolved against the effective base,
    * canonical, http(s) only. Shared verbatim by the batch frontier
    * and its streaming twin (no state, so the stream must equal the
    * batch replay under any micro-batch split).
    */
  private[graft] def frontierLinksStage(pages: DataFrame): DataFrame =
    pages
      .select(col("page_url"),
        graft.functions.HtmlLinks.htmlLinks(col("html")).as("lk"))
      .withColumn("eff_base",
        coalesce(graft.functions.UrlOps.resolveUrl(col("page_url"),
          col("lk.base")), col("page_url")))
      .select(explode(col("lk.links")).as("href"), col("eff_base"))
      .select(graft.functions.UrlOps.canonicalizeUrl(
        graft.functions.UrlOps.resolveUrl(col("eff_base"), col("href")))
        .as("url"))
      .where(col("url").isNotNull &&
        (col("url").startsWith("http://") ||
          col("url").startsWith("https://")))

  private[graft] def withDomainPath(df: DataFrame): DataFrame =
    df.withColumn("domain", graft.functions.UrlOps.registrableDomain(
        graft.functions.UrlOps.urlHost(col("url"))))
      .withColumn("path",
        regexp_extract(col("url"), "^[a-z]+://[^/]+(/[^?#]*)", 1))

  /** One wave's candidate set is COMPUTED ONCE per (session, table)
    * and shared by every consumer query — the frontier gate, the
    * politeness schedule and the discovery union all read the same
    * wave, so the HTML link scan + resolution must not re-run per
    * consumer (a production frontier persists the wave table; the
    * in-session analog is a memoized lazy checkpoint, materialized by
    * whichever consumer runs first and reused as checkpoint blocks by
    * the rest).
    */
  private[graft] val frontierWaveCache =
    new graft.plans.BoundedCache[(SparkSession, String),
      DataFrame](maxEntries = 8)

  private[graft] def frontierCandidates(s: SparkSession, d: String): DataFrame =
    frontierWaveCache.getOrElseUpdate((s, d))({
      val pages = linkPageDocs(s, d)
      val seen = pages
        .select(graft.functions.UrlOps.canonicalizeUrl(col("page_url"))
          .as("url")).distinct()
      graft.plans.LazyCheckpoint.shared(withDomainPath(
        frontierLinksStage(pages)
          .distinct()
          .join(seen, Seq("url"), "left_anti")))
    })

  /** CRAWL FRONTIER EXPANSION (`pipeline_crawl_frontier`) — the
    * discovery loop's one iteration, composed end-to-end: fetched
    * pages → [[linkPageDocs]] markup → link extraction → RFC 3986
    * resolution → canonical keys → scheme filter → dedup → seen-set
    * anti-join → per-domain robots gate, emitting the next wave's
    * fetch list. Shape at 100 TB: everything up to `distinct` is a
    * map-only scan projection; the dedup + anti-join shuffle hashes on
    * the canonical URL (the natural balanced key); the policy join is
    * a 21-row broadcast. The oracle replays every planted link's fate
    * — resolved form, dedup, seen-set hit, robots verdict — by
    * construction.
    */
  val pipelineCrawlFrontier: Q = (s, d) => {
    frontierCandidates(s, d)
      .join(broadcast(plantedFrontierRobots(s)), Seq("domain"))
      .where(graft.functions.RobotsOps.rulesAllowed(col("rules"),
        col("path")))
      .select(col("domain"), col("url"))
      .orderBy("url")
  }

  /** STREAMING FRONTIER (`pipeline_frontier_stream`) — discovery as a
    * CONTINUOUS query: pages arrive as a stream, the stateless
    * extraction half ([[frontierLinksStage]], shared verbatim with
    * the batch query) runs per micro-batch, the seen set is a
    * stream-STATIC anti-join, the policy gate a broadcast join, and
    * the frontier accumulates in a complete-mode (domain, url)
    * aggregation — dedup IS the aggregation state, keyed on the
    * canonical URL. Shares `pipeline_crawl_frontier`'s oracle
    * VERBATIM: every stage before the aggregate is stateless, so the
    * accumulated table must equal the batch replay under any
    * micro-batch split.
    */
  val pipelineFrontierStream: Q = (s, d) => {
    val schema = docs(s, d).schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
    val seen = linkPageDocs(s, d)
      .select(graft.functions.UrlOps.canonicalizeUrl(col("page_url"))
        .as("url")).distinct()
    val gated = withDomainPath(
      frontierLinksStage(linkPageColumns(stream))
        .join(seen, Seq("url"), "left_anti"))
      .join(broadcast(plantedFrontierRobots(s)), Seq("domain"))
      .where(graft.functions.RobotsOps.rulesAllowed(col("rules"),
        col("path")))
    s.catalog.dropTempView("graft_frontier_stream")
    graft.streaming.StreamScale.runDrained(s) {
      gated.groupBy(col("domain"), col("url"))
      .agg(count(lit(1)).as("n_refs"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("graft_frontier_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start() }
    s.table("graft_frontier_stream")
      .select(col("domain"), col("url")).orderBy("url")
  }

  /** One micro-batch of [[pipelineFrontierStore]] — factored out so
    * the retry-idempotence contract is directly testable
    * ([[graft.streaming.StreamingDedup.nearDupIngestBatch]]
    * discipline): the batch's candidates gate through robots, then
    * anti-join against the SEEN state — the epoch's frozen base (the
    * wave's fetched pages) plus every frontier batch committed BEFORE
    * this id. Excluding this id's own directory is what makes a
    * foreachBatch RETRY rewrite its output wholesale instead of
    * re-filtering itself to empty; the wholesale overwrite
    * ([[graft.streaming.EpochStore.writeBatch]]) makes the rewrite
    * idempotent.
    */
  private[graft] def frontierStoreIngestBatch(s: SparkSession,
      ref: graft.streaming.EpochStore.Ref, pagesBatch: DataFrame,
      batchId: Long): Unit = {
    import graft.streaming.EpochStore
    val cands = withDomainPath(frontierLinksStage(pagesBatch).distinct())
      .join(broadcast(plantedFrontierRobots(s)), Seq("domain"))
      .where(graft.functions.RobotsOps.rulesAllowed(col("rules"),
        col("path")))
      .select(col("domain"), col("url"))
    val priorBatches = EpochStore.committedBatches(ref, "frontier")
      .filter(b => b > 0 && b < batchId + 1)
    val seen = priorBatches
      .map(b => EpochStore.readBatch(s, ref, "frontier", b)
        .select(col("url")))
      .foldLeft(EpochStore.readBase(s, ref, "seen").select(col("url")))(
        _.unionByName(_))
    EpochStore.writeBatch(cands.join(seen, Seq("url"), "left_anti"),
      ref, "frontier", batchId + 1)
  }

  /** UPDATE-MODE FRONTIER SINK (`pipeline_frontier_store`) — the
    * PRODUCTION shape of [[pipelineFrontierStream]]: the complete-mode
    * memory sink is fine for verification, but a real frontier writes
    * each micro-batch's NEW urls into an idempotent per-batch store
    * (`foreachBatch` → [[graft.streaming.EpochStore]], the streaming
    * dedup stores' lifecycle layer) with the seen set as maintained
    * state — in-memory state ZERO, on-disk state bounded by the WAVE
    * (the emitted frontier + the wave's fetched pages), not the
    * corpus, and every batch directory a provenance ledger entry. The
    * accumulated store must equal the batch replay under ANY
    * micro-batch split (a url two batches both discover is emitted by
    * the first only) — it shares `pipeline_crawl_frontier`'s oracle
    * family verbatim.
    */
  val pipelineFrontierStore: Q = (s, d) => {
    import graft.streaming.EpochStore
    val storeDir = Scratch.dir("graft_frontier_store")
    // seed: epoch 0's frozen base = the wave's own fetched-page urls
    // (the batch query's seen set), plus an empty frontier ledger
    val ref = EpochStore.claimNext(storeDir)
    EpochStore.writeBatch(
      linkPageDocs(s, d).select(graft.functions.UrlOps
        .canonicalizeUrl(col("page_url")).as("url")).distinct(),
      ref, "seen", 0L)
    EpochStore.writeBatch(
      s.createDataFrame(new java.util.ArrayList[Row](), StructType(Seq(
        StructField("domain", StringType), StructField("url", StringType)))),
      ref, "frontier", 0L)
    EpochStore.commit(ref)
    // the wave arrives as files — several micro-batches per run
    val feedDir = Scratch.dir("graft_frontier_feed")
    docs(s, d).repartition(4, col("doc_id"))
      .write.mode("overwrite").parquet(feedDir)
    val schema = docs(s, d).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    graft.streaming.StreamScale.runDrained(s) {
      linkPageColumns(stream).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        frontierStoreIngestBatch(s, ref, batch, batchId)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start() }
    EpochStore.readAll(s, ref, "frontier")
      .select(col("domain"), col("url")).orderBy("url")
  }

  /** POLITENESS SCHEDULING (`pipeline_polite_schedule`) — the frontier
    * turned into a per-host fetch plan: each allowed URL gets its
    * domain's `Crawl-delay` (NULL → the 1 s default a polite crawler
    * assumes) and a slot = rank within its domain, so the scheduled
    * offset is `(slot-1) × delay` seconds. The rank window partitions
    * by DOMAIN — the politeness unit IS the parallel unit, millions of
    * domains at 100 TB, so no global ordering exists anywhere.
    */
  val pipelinePoliteSchedule: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    frontierCandidates(s, d)
      .join(broadcast(plantedFrontierRobots(s)), Seq("domain"))
      .where(graft.functions.RobotsOps.rulesAllowed(col("rules"),
        col("path")))
      .withColumn("delay_s", coalesce(col("crawl_delay"), lit(1.0)))
      .withColumn("slot", row_number().over(
        Window.partitionBy(col("domain")).orderBy(col("url")))
        .cast("long"))
      .withColumn("offset_s", (col("slot") - 1).cast("double") *
        col("delay_s"))
      .select(col("domain"), col("url"), col("slot"), col("delay_s"),
        col("offset_s"))
      .orderBy("domain", "slot")
  }

  /** The planted per-site sitemap files, one per site domain: a
    * two-entry urlset whose first loc (`/root`) OVERLAPS the link
    * channel (and is robots-blocked on odd sites, gating both
    * channels identically) and whose second (`/sm/p{n%4}`) only the
    * sitemap channel can discover.
    */
  private[graft] def plantedSitemapBodies(s: SparkSession): DataFrame = {
    import s.implicits._
    def urlset(locs: Seq[String]): String =
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/" +
        "0.9\">\n" +
        locs.map(l => s"<url><loc>$l</loc></url>").mkString("\n") +
        "\n</urlset>"
    // every 3rd site nests: the robots-named sitemap is a
    // SITEMAPINDEX whose children carry the site's URL inventory
    // (one child adds a CHILD-ONLY /deep page — the recursion's
    // observable); the rest are flat urlsets
    (0 until 13).flatMap { n =>
      val root = s"http://site$n.com"
      if (n % 3 == 0) Seq(
        (s"$root/sitemap.xml",
          "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/" +
            "sitemap/0.9\">" +
            s"<sitemap><loc>$root/sm_a.xml</loc></sitemap>" +
            s"<sitemap><loc>$root/sm_b.xml</loc></sitemap>" +
            "</sitemapindex>"),
        (s"$root/sm_a.xml", urlset(Seq(s"$root/root"))),
        (s"$root/sm_b.xml",
          urlset(Seq(s"$root/sm/p${n % 4}", s"$root/deep/d$n"))))
      else Seq(
        (s"$root/sitemap.xml", urlset(Seq(s"$root/root",
          s"$root/sm/p${n % 4}"))))
    }.toDF("sm_url", "xml")
  }

  /** COMPOSED DISCOVERY (`pipeline_discovery_e2e`) — every channel a
    * crawler learns new URLs from, in ONE declarative plan: (a) the
    * LINK channel, [[frontierCandidates]]'s extract → resolve →
    * canonicalize → seen-set path; (b) the SITEMAP channel, robots
    * `Sitemap:` directives → the site's sitemap body → entry
    * inventory. Both funnel through the SAME per-domain robots gate,
    * union, and collapse per canonical URL with channel provenance —
    * a URL both channels surface carries `links|sitemap`. Shape at
    * 100 TB: the sitemap side is domain-cardinality (tiny, broadcast
    * everywhere); the link side is the corpus-sized scan; the only
    * shuffles hash on the canonical URL.
    */
  val pipelineDiscoveryE2e: Q = (s, d) => {
    val robots = plantedFrontierRobots(s)
    val bodies = plantedSitemapBodies(s)
    val parsed0 = robots
      .select(col("domain"), explode(col("sitemaps")).as("sm_url"))
      .join(bodies, Seq("sm_url"))
      .select(graft.functions.SitemapParse.parseSitemap(col("xml"))
        .as("sm"))
    // SITEMAP-INDEX RECURSION, bounded to ONE level (the kind column
    // is exactly for this — [[graft.functions.SitemapParse]]): index
    // entries name further sitemap FILES, so their locs join back to
    // the bodies table and their urlset entries flow in; a nested
    // index at depth 2 contributes nothing (bounded-depth politeness,
    // same discipline as the 3-hop redirect walk). Both joins are
    // domain-cardinality — tiny next to the link channel's scan.
    val childEntries = parsed0.where(col("sm.kind") === "sitemapindex")
      .select(explode(col("sm.entries")).as("pe"))
      .select(col("pe.loc").as("sm_url"))
      .join(bodies, Seq("sm_url"))
      .select(graft.functions.SitemapParse.parseSitemap(col("xml"))
        .as("sm"))
      .where(col("sm.kind") === "urlset")
      .select(explode(col("sm.entries")).as("e"))
    val smEntries = parsed0.where(col("sm.kind") === "urlset")
      .select(explode(col("sm.entries")).as("e"))
      .unionByName(childEntries)
      .select(graft.functions.UrlOps.canonicalizeUrl(col("e.loc"))
        .as("url"))
      .withColumn("domain", graft.functions.UrlOps.registrableDomain(
        graft.functions.UrlOps.urlHost(col("url"))))
      .withColumn("path",
        regexp_extract(col("url"), "^[a-z]+://[^/]+(/[^?#]*)", 1))
      .withColumn("channel", lit("sitemap"))
    val links = frontierCandidates(s, d)
      .withColumn("channel", lit("links"))
    links.unionByName(smEntries)
      .join(broadcast(robots.select("domain", "rules")), Seq("domain"))
      .where(graft.functions.RobotsOps.rulesAllowed(col("rules"),
        col("path")))
      .groupBy(col("domain"), col("url"))
      .agg(array_join(array_sort(collect_set(col("channel"))), "|")
        .as("channels"))
      .orderBy("url")
  }

  /** Per doc one REDIRECT CHAIN of WARC records: `doc_id % 3` hops of
    * 301s with RELATIVE Location values (`h+1`, resolved against each
    * hop's own URI — the RFC 9110 shape real servers emit), then the
    * final 200 HTML page, which for even docs carries a
    * `<link rel=canonical>` ALIAS (site-absolute) and for every 5th
    * doc a `<meta name=robots content=noindex>`.
    */
  private[graft] def plantedRedirectRecords(s: SparkSession,
      d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("hop", IntegerType),
      StructField("record", BinaryType)))
    docs(s, d).select(col("doc_id")).mapPartitions { rows =>
      import graft.sources.WarcCodec
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      rows.flatMap { r =>
        val id = r.getLong(0)
        val n = id % 13
        val hops = (id % 3).toInt
        def uri(h: Int) = s"http://site$n.com/c$id/$h"
        // hop 0 of every 4th chain is a META-REFRESH interstitial
        // (the third redirect mechanism): id%4==1 fast (collapses,
        // quoting/case rotating), id%4==3 slow (30 s — an
        // auto-reloading page, NOT a redirect; the chain stalls)
        val redirects = (0 until hops).map { h =>
          val fast = id % 4 == 1 && h == 0
          val slow = id % 4 == 3 && h == 0
          if (fast || slow) {
            val content =
              if (slow) "30; url=1"
              else if ((id / 4) % 2 == 0) "0; url=1"
              else "3;URL='1'"
            val html = "<html><head><meta http-equiv=refresh " +
              s"""content="$content"></head>""" +
              "<body>interstitial</body></html>"
            Row(id, h, WarcCodec.encodeResponse(uri(h), 200,
              "text/html", html.getBytes(utf8)))
          } else
            Row(id, h, WarcCodec.encodeResponse(uri(h), 301, "text/html",
              Array.emptyByteArray, location = (h + 1).toString))
        }
        val canonical = if (id % 2 == 0)
          s"<link rel=canonical href=/canon/$id>" else ""
        val robotsMeta = if (id % 5 == 0)
          "<meta name=robots content='noindex, nofollow'>" else ""
        val html = s"<html><head>$canonical$robotsMeta</head>" +
          s"<body><h1>Doc $id</h1></body></html>"
        redirects :+ Row(id, hops, WarcCodec.encodeResponse(uri(hops),
          200, "text/html", html.getBytes(utf8)))
      }
    }(Encoders.row(schema)).toDF()
  }

  /** REDIRECT + CANONICAL-ALIAS RESOLUTION (`pipeline_redirect_resolve`)
    * — the discovery channel that collapses every fetched URL to the
    * identity the corpus should carry: HTTP 3xx `Location` values
    * (surfaced by [[graft.functions.WarcParseExpr]], RESOLVED against
    * the hop's own URI via [[graft.functions.UrlOps.resolveUrl]] —
    * real servers emit relative Locations) collapse as a BOUNDED-HOP
    * chain walk (three iterated equi-joins on the canonical URL — at
    * 100 TB each iteration is one shuffle on a high-cardinality key,
    * never a driver loop; unresolved-after-3 keeps its last hop, the
    * loop-safety bound), then the landing page's
    * `<link rel=canonical>` ([[graft.functions.HtmlPageMetaExpr]])
    * applies as the final alias, and `<meta name=robots noindex>`
    * drops the page from the funnel (`kept`). Output per chain START:
    * the final URL, hop count, channel provenance
    * (canonical/redirect/fetch) and the noindex verdict — the oracle
    * replays every chain by construction.
    */
  val pipelineRedirectResolve: Q = (s, d) => {
    val w = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("record"))))
    def pageMeta(html: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.HtmlPageMetaExpr(
          org.apache.spark.sql.GraftBridge.expression(html)))
    val parsed = graft.plans.LazyCheckpoint.shared(
      plantedRedirectRecords(s, d)
        .select(col("doc_id"), col("hop"), w.as("w"))
        .select(col("doc_id"), col("hop"),
          graft.functions.UrlOps.canonicalizeUrl(col("w.target_uri"))
            .as("url"),
          col("w.status").as("status"),
          col("w.location").as("location"),
          col("w.body").as("body"),
          col("w.target_uri").as("uri")))
    // landing PAGES: canonical alias + noindex + declarative refresh
    // from one scanner pass; a refresh with a small delay (≤ 5 s, the
    // crawler convention) is a redirect EDGE, a long one is an
    // auto-reloading page and contributes nothing
    val pages = parsed.where(col("status") === 200)
      .select(col("url"),
        pageMeta(TextOps.decodeCharset(col("body"),
          lit("text/html; charset=utf-8")).getField("text")).as("m"),
        col("uri"))
      .select(col("url"),
        when(col("m.canonical").isNotNull,
          graft.functions.UrlOps.canonicalizeUrl(
            graft.functions.UrlOps.resolveUrl(col("uri"),
              col("m.canonical")))).as("canonical"),
        col("m.noindex").as("noindex"),
        when(col("m.refresh_url").isNotNull &&
            col("m.refresh_secs") <= 5,
          graft.functions.UrlOps.canonicalizeUrl(
            graft.functions.UrlOps.resolveUrl(col("uri"),
              col("m.refresh_url")))).as("refresh_dst"))
    // redirect EDGES: 3xx Locations and fast meta-refreshes, both
    // resolved against the hop's own URI (relative values are the
    // common real-world shape); provenance rides each edge
    val edges = parsed
      .where(col("status").between(300, 399) && col("location").isNotNull)
      .select(col("url").as("src"),
        graft.functions.UrlOps.canonicalizeUrl(
          graft.functions.UrlOps.resolveUrl(col("uri"), col("location")))
          .as("dst"),
        lit(0L).as("via_refresh"))
      .union(pages.where(col("refresh_dst").isNotNull)
        .select(col("url").as("src"), col("refresh_dst").as("dst"),
          lit(1L).as("via_refresh")))
    // bounded-hop collapse: 3 iterated left equi-joins on the URL —
    // the politeness bound on redirect loops; a chain longer than the
    // bound keeps its last reached hop (honest partial resolution)
    var cur = parsed.where(col("hop") === 0)
      .select(col("doc_id"), col("url").as("start_url"),
        col("url").as("cur"), lit(0L).as("n_hops"),
        lit(0L).as("n_refresh_hops"))
    (1 to 3).foreach { _ =>
      cur = cur.join(edges, cur("cur") === edges("src"), "left")
        .select(col("doc_id"), col("start_url"),
          coalesce(col("dst"), col("cur")).as("cur"),
          (col("n_hops") + when(col("dst").isNotNull, 1L)
            .otherwise(0L)).as("n_hops"),
          (col("n_refresh_hops") +
            when(col("dst").isNotNull, col("via_refresh"))
              .otherwise(0L)).as("n_refresh_hops"))
    }
    cur.join(pages, cur("cur") === pages("url"), "left")
      .select(col("doc_id"), col("start_url"),
        coalesce(col("canonical"), col("cur")).as("final_url"),
        col("n_hops"), col("n_refresh_hops"),
        when(col("canonical").isNotNull, lit("canonical"))
          .when(col("n_hops") > 0, lit("redirect"))
          .otherwise(lit("fetch")).as("channel"),
        coalesce(col("noindex"), lit(false)).as("noindex"),
        (!coalesce(col("noindex"), lit(false))).as("kept"))
      .orderBy("doc_id")
  }

  /** The documents table as per-site robots files with non-rule
    * directives: a document-leading `Sitemap:`, then one of three
    * group shapes — no named group (`*` carries delay 9, plus a
    * trailing extra sitemap), a named graftbot group WITH a delay
    * (shadows the `*` delay), a named group WITHOUT one (delay must be
    * NULL even though `*` has 9). Even docs add an unparseable delay
    * to the `*` group (lenient-line rule: ignored as if absent).
    */
  private[graft] def robotsDirectiveDocs(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val lead = concat(lit("Sitemap: http://site"), (id % 13).cast("string"),
      lit(".com/map"), (id % 3).cast("string"), lit(".xml\n"))
    val body = when(id % 3 === 0, concat(
        lit("User-agent: *\nCrawl-delay: 9\n"),
        when(id % 2 === 0, lit("Crawl-delay: bogus\n")).otherwise(lit("")),
        lit("Disallow: /a\nSitemap: http://site"),
        (id % 13).cast("string"), lit(".com/extra.xml\n")))
      .when(id % 3 === 1, concat(
        lit("User-agent: graftbot\nCrawl-delay: "),
        (id % 5).cast("string"),
        lit(".5\nDisallow: /b\nUser-agent: *\nCrawl-delay: 9\n")))
      .otherwise(lit(
        "User-agent: graftbot\nDisallow: /c\n" +
          "User-agent: *\nCrawl-delay: 9\n"))
    docs(s, d).select(id, concat(lead, body).as("robots_txt"))
  }

  /** ROBOTS DIRECTIVES (`text_robots_directives`,
    * [[graft.functions.RobotsOps.robotsDirectives]]) — `Crawl-delay`
    * group selection (named shadows `*`, absent-in-named is NULL,
    * invalid values lenient-ignored) and document-wide `Sitemap`
    * collection, verified value-equal per doc. Scan projection, one
    * parse per POLICY row — the domains side of the frontier join.
    */
  val textRobotsDirectives: Q = (s, d) => {
    robotsDirectiveDocs(s, d)
      .select(col("doc_id"),
        graft.functions.RobotsOps.robotsDirectives(col("robots_txt"),
          "GraftBot").as("dir"))
      .select(col("doc_id"),
        col("dir.crawl_delay").as("crawl_delay"),
        size(col("dir.sitemaps")).cast("long").as("n_sitemaps"),
        array_join(col("dir.sitemaps"), "|").as("sitemaps"))
      .orderBy("doc_id")
  }

  /** The documents table as sitemap XML — four planted kinds, most
    * specific first: malformed root (every 11th), out-of-range
    * priority (every 7th), a namespaced `sitemapindex` (every 5th),
    * else a two-entry `urlset` with an entity-bearing loc, a lastmod
    * on the first entry and a priority on the second.
    */
  private[graft] def sitemapDocs(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val n = (id % 13).cast("string")
    val urlset = concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset " +
        "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        "<url><loc>http://site"), n, lit(".com/p0?x=1&amp;y="),
      (id % 4).cast("string"),
      lit("</loc><lastmod>2026-01-15</lastmod>" +
        "<changefreq>daily</changefreq></url>\n" +
        "<url><loc>http://site"), n, lit(".com/p1</loc>" +
        "<priority>0."), (id % 9).cast("string"),
      lit("</priority></url>\n</urlset>"))
    val index = concat(
      lit("<sm:sitemapindex xmlns:sm=\"http://www.sitemaps.org/" +
        "schemas/sitemap/0.9\"><sm:sitemap><sm:loc>http://site"), n,
      lit(".com/s0.xml</sm:loc><sm:lastmod>2026-02-01</sm:lastmod>" +
        "</sm:sitemap><sm:sitemap><sm:loc>http://site"), n,
      lit(".com/s1.xml</sm:loc></sm:sitemap></sm:sitemapindex>"))
    val badPrio = concat(
      lit("<urlset><url><loc>http://site"), n,
      lit(".com/bad</loc><priority>1.5</priority></url></urlset>"))
    val xml = when(id % 11 === 0,
        lit("<urlst><url><loc>x</loc></url></urlst>"))
      .when(id % 7 === 0, badPrio)
      .when(id % 5 === 0, index)
      .otherwise(urlset)
    docs(s, d).select(id, xml.as("xml"))
  }

  /** SITEMAP PARSING (`text_sitemap_parse`,
    * [[graft.functions.SitemapParse]]) — the frontier's third
    * discovery channel: per doc either the exploded entry rows (kind,
    * position, loc with entities decoded, lastmod, priority) or one
    * named-rejection row. Scan projection + explode, no shuffle before
    * the verification order.
    */
  val textSitemapParse: Q = (s, d) => {
    val parsed = sitemapDocs(s, d)
      .select(col("doc_id"),
        graft.functions.SitemapParse.parseSitemap(col("xml")).as("sm"))
    val ok = parsed.where(col("sm.err").isNull)
      .select(col("doc_id"), col("sm.kind").as("kind"),
        lit(null).cast("string").as("err"),
        posexplode(col("sm.entries")).as(Seq("pos", "entry")))
      .select(col("doc_id"), col("kind"), col("err"),
        col("pos").cast("long").as("pos"),
        col("entry.loc").as("loc"), col("entry.lastmod").as("lastmod"),
        col("entry.priority").as("priority"))
    val bad = parsed.where(col("sm.err").isNotNull)
      .select(col("doc_id"), lit(null).cast("string").as("kind"),
        col("sm.err").as("err"), lit(0L).as("pos"),
        lit(null).cast("string").as("loc"),
        lit(null).cast("string").as("lastmod"),
        lit(null).cast("double").as("priority"))
    ok.unionByName(bad).orderBy("doc_id", "pos")
  }

  /** ONE WARC response record for the composed ingest fixtures —
    * shared VERBATIM by the batch e2e and both streaming twins so the
    * rotation cannot drift between them. Every kind is a `text/html`
    * response whose TARGET URI needs canonicalization (uppercase
    * scheme/host, default port, tracking param, fragment) and whose
    * path lands in the planted robots-policy space; the body rotates
    * utf-8, windows-1252 (transport-labeled, with a planted `€` the
    * decode must not mangle), BOM'd UTF-16LE, a Shift_JIS-labeled
    * Japanese page (encoded through the JDK's own windows-31j — the
    * independent mirror of the artifact decode path, the fixture-
    * encoder discipline) that the funnel now DECODES via the pinned
    * [[graft.functions.EncodingStore]] snapshot, and a KOI8-R-labeled
    * record that stays the honest unsupported-label rejection.
    */
  private[graft] def crawlE2eRecord(id: Long, text: String): Array[Byte] = {
    import graft.sources.WarcCodec
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val utf16le = java.nio.charset.StandardCharsets.UTF_16LE
    val uri = s"HTTP://WWW.Site${id % 13}.com:80/A/b${id % 9}" +
      "?z=2&utm_source=x&a=1#Frag"
    def html(h1Extra: String): String =
      s"<html><head><title>Doc $id</title></head>" +
        s"<body><h1>Doc $id$h1Extra</h1><div>$text</div>" +
        "<footer><a href=\"/tos\">Terms</a> " +
        "<a href=\"/p\">Privacy</a></footer></body></html>"
    (id % 5).toInt match {
      case 0 => WarcCodec.encodeResponse(uri, 200, "text/html",
        html("").getBytes(utf8))
      case 1 => WarcCodec.encodeResponse(uri, 200,
        "text/html; charset=iso-8859-1", Queries.w1252Bytes(html(" €")))
      case 2 => WarcCodec.encodeResponse(uri, 200, "text/html",
        Array(0xFF, 0xFE).map(_.toByte) ++
          html("").getBytes(utf16le))
      case 3 => WarcCodec.encodeResponse(uri, 200,
        "text/html; charset=Shift_JIS",
        html(" \u65E5\u672C\u8A9E").getBytes("windows-31j"))
      case _ => WarcCodec.encodeResponse(uri, 200,
        "text/html; charset=koi8-r", text.getBytes("US-ASCII"))
    }
  }

  /** The [[crawlE2eRecord]] rotation over the documents table. */
  private[graft] def plantedCrawlE2eRecords(s: SparkSession,
      d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("record", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), Queries.crawlE2eRecord(r.getLong(0),
        r.getString(1))))
    }(Encoders.row(schema)).toDF()
  }

  /** THE COMPOSED INGEST QUERY (`pipeline_crawl_e2e`): REAL `.warc.gz`
    * archive files on disk → gzip member split → WARC/HTTP parse →
    * charset resolution → markup extraction → URL canonicalization →
    * registrable domain → robots policy gate → language + quality
    * gates → corpus funnel, in ONE declarative plan. The input is the
    * actual crawl artifact (eight planted concatenated-gzip-member
    * archives, the Common Crawl layout — [[writeWarcGzFiles]]), not
    * pre-split records, so this is the literal first-metre-to-funnel
    * path. Every per-record stage is a scan-projection expression or
    * a broadcast join (13 one-row policies), so the whole
    * pre-aggregation path is a single map-only stage over the archive
    * scan — the 100 TB shape: parallelism per archive file, no
    * shuffle until the final 5-number funnel aggregate, and that
    * aggregate is map-side combined. Stage counts nest (fetched ⊇
    * decoded ⊇ robots-allowed ⊇ quality-kept), and the oracle replays
    * every stage — decode rejection by kind, the robots decision per
    * planted policy, the exact language/quality arithmetic — down to
    * the kept token sum.
    */
  val pipelineCrawlE2e: Q = (s, d) => {
    val dir = Scratch.dir("graft_crawl_e2e_gz")
    writeWarcGzFiles(plantedCrawlE2eRecords(s, d), dir, 8, "seg", 0L,
      col("doc_id") % 8)
    val g = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcGzMembersExpr(
        org.apache.spark.sql.GraftBridge.expression(col("content"))))
    val records = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc.gz").load(dir)
      .select(g).select(col("member").as("record"))
    crawlFunnelAgg(crawlFunnelStaged(records))
  }
}
