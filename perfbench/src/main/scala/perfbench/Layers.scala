package perfbench

import graft.model.{ConversionOptions, DocumentType, Page}
import graft.pipeline.{ExtractKernel, TypeDetector}
import org.apache.spark.sql.functions._

/** Layer probes that belong to no workload's loop: the per-stage kernel
  * split on one driver thread, the pages/s ladder, and a batch read of
  * the WARC shards. Rates are records per second of the layer's own busy
  * time: task run time summed over the layer's Spark jobs, divided by the
  * cores. */
object Layers {

  /** Pages sampled for the per-stage split. */
  val StageSample = 400

  val StageNames: Seq[String] = Seq("kernel.detect", "html.tree", "html.blocks", "pdf.parse", "ooxml.parse",
    "mdparse.parse", "export.markdown", "chunk.chunk")

  /** Runs one page through the same public functions `extractOne` calls,
    * in the same order, adding (stage, start, end) per call to `out`. */
  private def runStages(p: Page, opts: ConversionOptions, out: scala.collection.mutable.Buffer[(String, Long, Long)]): Unit = {
    def stage[A](name: String)(f: => A): A = {
      val a = System.nanoTime(); val r = f; out += ((name, a, System.nanoTime())); r
    }
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val filename = ExtractKernel.filenameFromUrl(p.url)
    val doc = stage("kernel.detect")(TypeDetector.detect(p.html, p.url)) match {
      case DocumentType.Html =>
        val root = stage("html.tree")(graft.html.TreeBuilder.parse(new String(p.html, utf8)))
        Some(stage("html.blocks")(graft.html.BlockExtractor.extract(root, filename, opts.extractImages)))
      case DocumentType.Pdf => Some(stage("pdf.parse")(graft.pdf.PdfParser.parse(p.html, filename)))
      case DocumentType.Docx => Some(stage("ooxml.parse")(graft.ooxml.OoxmlParser.parseDocx(p.html, filename)))
      case DocumentType.Xlsx => Some(stage("ooxml.parse")(graft.ooxml.OoxmlParser.parseXlsx(p.html, filename)))
      case DocumentType.Pptx => Some(stage("ooxml.parse")(graft.ooxml.OoxmlParser.parsePptx(p.html, filename)))
      case DocumentType.Md =>
        Some(stage("mdparse.parse")(graft.mdparse.MarkdownParser.parse(new String(p.html, utf8), filename)))
      case DocumentType.Asciidoc =>
        Some(stage("mdparse.parse")(graft.mdparse.AsciidocParser.parse(new String(p.html, utf8), filename)))
      case _ => None
    }
    doc.foreach { d =>
      val md = stage("export.markdown")(graft.export.MarkdownSerializer.serialize(d))
      stage("chunk.chunk")(graft.chunk.Chunker.chunkText(md, opts.chunkSize, opts.chunkOverlap))
    }
  }

  /** Mean self µs per page entering each stage, over a seeded sample run
    * on one driver thread: one untimed pass, then one recorded pass with a
    * span per page and a child span per stage call. */
  def stages(ctx: Ctx): Map[String, Double] = {
    val rnd = new scala.util.Random(ctx.fx.seed ^ 0x57a6eL)
    val seed = ctx.fx.seed
    val sample = Vector.fill(StageSample)(graft.gen.CorpusGen.pageFor(rnd.nextInt(ctx.fx.pages).toLong, seed))
    val opts = ConversionOptions()
    sample.foreach(p => runStages(p, opts, scala.collection.mutable.ArrayBuffer.empty))
    val tr = new Tracer(s"stages-$seed")
    sample.foreach { p =>
      val kids = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      val t0 = System.nanoTime()
      runStages(p, opts, kids)
      val pid = tr.add("page", t0, System.nanoTime(), None)
      kids.foreach { case (n, a, b) => tr.add(n, a, b, Some(pid)) }
    }
    val all = tr.spans
    StageNames.map { n =>
      val ss = all.filter(_.name == n)
      s"${n}_us" -> (if (ss.isEmpty) 0.0 else ss.map(Spans.selfTime(_, all)).sum / 1000.0 / ss.size)
    }.toMap
  }

  /** Busy seconds (task run time / cores) of the Spark jobs `f` runs. */
  private def busy(ctx: Ctx, rec: JobRecorder)(f: => Unit): (Double, Seq[JobRec]) = {
    val t0 = System.currentTimeMillis()
    f
    val js = rec.jobsBetween(t0, System.currentTimeMillis())
    (js.map(_.runMs).sum / 1000.0 / ctx.cores, js)
  }

  /** The pages/s ladder: scan, kernel -> count, kernel -> noop sink,
    * kernel -> parquet; plus the kernel's task and GC time. */
  def ladder(ctx: Ctx, rec: JobRecorder): Map[String, Double] = {
    val spark = ctx.spark
    val n = ctx.fx.pages.toDouble
    val pages = ctx.fx.corpus
    val opts = ConversionOptions()
    val (scanS, _) = busy(ctx, rec) {
      spark.read.parquet(ctx.fx.corpusDir).select(sum(length(col("html"))), count(lit(1))).collect()
    }
    var failed = 0L
    val (kernelS, kjobs) = busy(ctx, rec) {
      failed = ExtractKernel.extract(pages, opts)(spark).where(col("status") =!= "completed").count()
    }
    val (encodeS, _) = busy(ctx, rec) {
      ExtractKernel.extract(pages, opts)(spark).toDF().write.format("noop").mode("overwrite").save()
    }
    val out = ctx.fresh("ladder-write")
    val (writeS, _) = busy(ctx, rec) {
      ExtractKernel.extract(pages, opts)(spark).toDF().write.mode("overwrite").parquet(out)
    }
    Dirs.deleteTree(java.nio.file.Paths.get(out))
    Map(
      "layer.scan_pages_per_s" -> n / scanS,
      "kernel.pages_per_s" -> n / kernelS,
      "kernel.busy_s" -> kjobs.map(_.runMs).sum / 1000.0,
      "kernel.gc_s" -> kjobs.map(_.gcMs).sum / 1000.0,
      "kernel.rows_failed" -> failed.toDouble,
      "layer.encode_pages_per_s" -> n / encodeS,
      "layer.write_pages_per_s" -> n / writeS,
    )
  }

  /** Batch read of the same shards through `format("warc")`, no kernel. */
  def warc(ctx: Ctx, rec: JobRecorder): Map[String, Double] = {
    val dir = ctx.fx.shardDir
    var rows = 0L
    val (s, _) = busy(ctx, rec) {
      rows = ctx.spark.read.format("warc").load(dir.toString).select(sum(length(col("html"))), count(lit(1)))
        .collect()(0).getLong(1)
    }
    val bytes = Dirs.usage(Seq(dir.toString))._2
    Map(
      "warc.read_pages_per_s" -> rows / s,
      "warc.bytes_per_page" -> bytes.toDouble / math.max(rows, 1L),
    )
  }
}
