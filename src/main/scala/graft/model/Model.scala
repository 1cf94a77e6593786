package graft.model

import java.sql.Timestamp

/** Core data model — Spark-native re-expression of the reference's Pydantic
  * models (reference: app/models.py:40-212). All rows entering/leaving the
  * extraction kernel are flat product types with standard Spark encoders;
  * the recursive DOM ADT (graft.html.Dom) never crosses a shuffle.
  */

/** One Common-Crawl-style page row — the north-rule input schema
  * (url, warc_ts, html, text, lang). */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String,
)

/** Conversion options (reference: app/models.py:40-73, same defaults/bounds). */
final case class ConversionOptions(
    outputFormat: String = OutputFormat.Markdown,
    extractTables: Boolean = true,
    extractImages: Boolean = false,
    ocrEnabled: Boolean = true, // documented no-op offline (SURVEY.md §2.2 T2)
    generateEmbeddings: Boolean = false,
    chunkSize: Int = 512,
    chunkOverlap: Int = 50,
    embeddingDim: Int = 384, // reference embedding_dimension (embeddings.py:20-47)
    /** Per-request custom metadata (reference: ConversionRequest.metadata,
      * models.py:90-93). Merged into the result envelope with
      * system-derived keys winning on collision — the exact dict-merge
      * order of tasks.py:116 `{**(metadata or {}), **result["metadata"]}`;
      * the FAILED envelope carries it unmerged (tasks.py:152). Per-job here
      * (one batch = one request's fan-out); a per-row column would force
      * the map through every shuffle for what the reference models as
      * request-scoped. */
    userMetadata: Map[String, String] = Map.empty,
) {
  require(chunkSize >= 100 && chunkSize <= 4096, s"chunk_size $chunkSize not in [100, 4096]")
  require(chunkOverlap >= 0 && chunkOverlap <= 500, s"chunk_overlap $chunkOverlap not in [0, 500]")
  require(OutputFormat.All.contains(outputFormat), s"unknown output_format $outputFormat")
  require(embeddingDim >= 8 && embeddingDim <= 4096, s"embedding_dim $embeddingDim not in [8, 4096]")
}

/** Closed string enums (reference: app/models.py:10-35). */
object OutputFormat {
  val Markdown = "markdown"
  val Json = "json"
  val Text = "text"
  val DocTags = "doctags"
  val All: Set[String] = Set(Markdown, Json, Text, DocTags)
}

object DocumentType {
  val Pdf = "pdf"
  val Docx = "docx"
  val Pptx = "pptx"
  val Xlsx = "xlsx"
  val Html = "html"
  val Image = "image"
  val Asciidoc = "asciidoc"
  val Md = "md"
}

object TaskStatus {
  val Pending = "pending"
  val Processing = "processing"
  val Completed = "completed"
  val Failed = "failed"
}

/** A chunk of document text (reference: app/models.py:124-135); metadata
  * fields per app/transcribe.py:246-251. `embedding` empty unless
  * generate_embeddings (384-d, zero vector for blank text —
  * app/embeddings.py:61-62). */
final case class Chunk(
    id: String,
    content: String,
    chunk_index: Int,
    char_start: Int,
    char_end: Int,
    chunk_size: Int,
    embedding: Array[Float],
)

/** An extracted table (reference: app/models.py:138-144); all cells
  * stringified per app/transcribe.py:208-210. */
final case class TableData(
    id: String,
    page: Option[Int],
    headers: Seq[String],
    rows: Seq[Seq[String]],
    markdown: String,
)

/** Output envelope — one row per input page (reference: app/models.py:147-182
  * ConversionResult + app/tasks.py:106-122 assembly). */
final case class ExtractResult(
    url: String,
    warc_ts: Timestamp, // input crawl timestamp: the version of readLatest(versionCol = "warc_ts")
    task_id: String,
    status: String,
    filename: String,
    document_type: String,
    content: String,
    chunks: Seq[Chunk],
    tables: Seq[TableData],
    metadata: Map[String, String],
    page_count: Int,
    processing_time_ms: Long,
    error: Option[String],
    created_at: Timestamp,
    completed_at: Option[Timestamp],
)

/** Internal document model — the Spark-native analog of DoclingDocument.
  * Produced by the HTML/PDF parsers, consumed by the export serializers.
  * Inline markup inside block text is carried as markdown spans
  * (**bold**, *em*, [text](url), `code`), so markdown export is direct and
  * the text export is exactly the reference's markdown-strip (T5). */
sealed trait Block extends Serializable
final case class HeadingBlock(level: Int, text: String) extends Block
final case class ParaBlock(text: String) extends Block
final case class ListBlock(ordered: Boolean, items: Vector[String]) extends Block
final case class TableBlock(headers: Vector[String], rows: Vector[Vector[String]], page: Option[Int]) extends Block
final case class CodeBlock(text: String) extends Block

final case class DocModel(
    name: String,
    docType: String,
    pageCount: Int,
    blocks: Vector[Block],
)
