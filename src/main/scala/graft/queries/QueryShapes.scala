package graft.queries

import graft.core.DuckHash
import java.util.Locale
import java.util.regex.Pattern
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query shapes the query families share, each defined once: what a
  * word is (Column and JVM forms), the documents reader, whole-frame
  * totals, the every-document join, the guarded ratio, the adjacent
  * word pairs, the md5-mod draw, the ilog2 weight and the eager
  * checkpoint. The DuckDB oracles pin each shape's tokenization and
  * arithmetic, and a change here changes the plan of every query built
  * from the shape: `scripts/plan_diff.py` over two `PlanDump` runs lists
  * them.
  */
private[graft] object QueryShapes {

  /** The corpus `documents` table under `dir`. */
  def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  // ---------------------------------------------------------------- words

  /** A vocabulary word: lowercase ASCII letters and digits only. */
  val VocabWord = "^[a-z0-9]+$"

  /** `text` lowercased and split on `\s+`, empty tokens kept (text that
    * starts with whitespace yields a leading ""). */
  def lowerTokens(text: Column): Column = split(lower(text), "\\s+")

  /** The words of `text`: lowercased, split on `\s+`, empties dropped —
    * the oracles' `list_filter(string_split_regex(lower(text), '\s+'),
    * x -> x <> '')`. */
  def words(text: Column): Column = filter(lowerTokens(text), x => x =!= lit(""))

  /** The [[words]] of `text` that are [[VocabWord]]s (one filter: the
    * empty token is no vocabulary word). */
  def vocabWords(text: Column): Column = filter(lowerTokens(text), w => w.rlike(VocabWord))

  /** Whitespace tokens: `text` trimmed and split on `\s+`, case kept,
    * empties kept (an all-blank text is one empty token). */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  private val Ws = Pattern.compile("\\s+")

  /** JVM form of [[words]] for UDFs and the serve path: lowercased with
    * `Locale.ROOT` (the reference's Python `str.lower()` ignores locale; a
    * tr/az default locale would turn 'I' into a dotless 'ı'), split on a
    * precompiled `\s+`, empties dropped. */
  def wordArray(text: String): Array[String] =
    Ws.split(text.toLowerCase(Locale.ROOT)).filter(_.nonEmpty)

  /** The adjacent word pairs of the word array column `arr`, as
    * `struct(w1, w2)`s in order; call it where `size(arr) >= 2`. */
  def adjacentPairs(arr: String): Column = expr(
    s"transform(sequence(1, size($arr) - 1), i -> struct(element_at($arr, i) AS w1, element_at($arr, i + 1) AS w2))")

  // ------------------------------------------------------------ arithmetic

  /** `md5(id) mod m` of the id column `id` (a long), through DuckDB's
    * `md5_number_lower` — the deterministic, engine-independent draw of
    * the md5-mod acceptance samplers. */
  def md5Mod(id: Column, m: Long): Column =
    udf((v: Long) => java.lang.Long.remainderUnsigned(DuckHash.md5NumberLower(v.toString), m)).apply(id)

  /** The smoothed integer log weight ilog2(((c + 1) · 2^30) div (total + v))
    * over the count column `c` and total column `total`, with ilog2(x) =
    * `length(bin(x)) - 1`: integer arithmetic, so both engines agree. */
  def ilog2Weight(c: String, total: String, v: Long): Column =
    expr(s"length(bin((($c + 1) * 1073741824) div ($total + $v))) - 1")

  // ----------------------------------------------------------- frame shapes

  /** Every row of `df` with whole-frame scalars appended: `aggs` over all
    * of `df` as a 1-row aggregate, cross-joined by broadcast. A whole-frame
    * scalar is never a driver collect (an action of its own, which runs
    * everything `df` is built from once more) nor a global window (one
    * task holds every row): the 1-row aggregate is a sibling subtree of the
    * same job, and where `df` ends in an exchange the two consumers share
    * it (ReuseExchange), so its input is computed once. */
  def withTotals(df: DataFrame)(aggs: Column*): DataFrame =
    df.crossJoin(broadcast(df.agg(aggs.head, aggs.tail: _*)))

  /** One row per document of `d`: its doc_ids left-joined on doc_id to
    * each per-document result in `per`, projected to doc_id and `cols`.
    * A document missing from a result reads null there, so `cols` default
    * what it lacks ([[orZero]] for counts). Unsorted: callers order. */
  def everyDoc(d: DataFrame, per: DataFrame*)(cols: Column*): DataFrame =
    per.foldLeft(d.select(col("doc_id")))(_.join(_, Seq("doc_id"), "left"))
      .select(col("doc_id") +: cols: _*)

  /** Count column `name`, 0 where the document had no row. */
  def orZero(name: String): Column = coalesce(col(name), lit(0L)).as(name)

  /** `num / den` in double, rounded to `places`, and 0.0 where `den` is 0 —
    * the oracles' `round(CASE WHEN den = 0 THEN 0.0 ELSE num::DOUBLE / den
    * END, places)`. The optimizer pushes the round into the branches, so
    * the plan reads `CASE WHEN den = 0 THEN 0.0 ELSE round(..) END`. */
  def ratio(num: Column, den: Column, places: Int): Column =
    round(when(den === 0, lit(0.0)).otherwise(num.cast("double") / den), places)

  /** Eager checkpoint with cluster-grade durability when available:
    * `localCheckpoint` blocks are executor-local and NON-replicated — on a
    * real cluster, one lost executor mid-iteration kills the job
    * unrecoverably (lineage truncated, no recompute path). When the session
    * has a reliable checkpoint dir configured
    * (`sparkContext.setCheckpointDir`, HDFS/object store on a cluster),
    * use `checkpoint()` against it; fall back to localCheckpoint for
    * local/test sessions where re-running the whole job is cheap. */
  def eagerCheckpoint(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
