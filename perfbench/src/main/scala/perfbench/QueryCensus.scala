package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How `read_mix` picks its queries. Times every driver query of the five
  * families that read the sf0.01 tables, in one cold and two warm passes
  * on the benchmark's copy of the tables, and prints per query its warm
  * time (the faster pass) and row count, then per family the query the
  * rule picks. The extraction family is left out: its queries read a
  * synthetic corpus cached under `/tmp`, not the tables, and
  * `crawl_batch` times the extraction path itself.
  *
  * Run from the benchmark's directory: `sbt "runMain perfbench.QueryCensus"`. */
object QueryCensus {

  val Families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "relational" -> graft.queries.RelationalQueries.all,
    "training_data" -> graft.queries.TrainingDataQueries.all,
    "curation" -> graft.queries.CurationQueries.all,
    "graph" -> graft.queries.GraphQueries.all,
    "quality" -> graft.queries.QualityQueries.all,
  )

  /** A timed query: family, name, warm seconds, rows. */
  final case class Timed(family: String, name: String, seconds: Double, rows: Long)

  /** The rule: per family, its median query, the one at rank ceil(n/2)
    * of the family's n warm times (equal times in name order), so each
    * family is timed by a typical member of it. */
  def pick(ts: Seq[Timed]): Seq[Timed] =
    ts.groupBy(_.family).toSeq.sortBy(_._1).map { case (_, qs) =>
      qs.sortBy(q => (q.seconds, q.name)).apply((qs.size + 1) / 2 - 1)
    }

  def main(args: Array[String]): Unit = {
    val spark = graft.pipeline.GraftSession.local(Runtime.getRuntime.availableProcessors())
    try {
      val dir = ReadMix.dataDir()
      val all = Families.flatMap { case (f, qs) => qs.toSeq.sortBy(_._1).map { case (n, q) => (f, n, q) } }
      def pass(): Seq[Timed] = all.map { case (f, n, q) =>
        val t0 = System.nanoTime()
        val rows = q(spark, dir).count()
        Timed(f, n, (System.nanoTime() - t0) / 1e9, rows)
      }
      pass()
      val warm = pass().zip(pass()).map { case (a, b) => if (a.seconds <= b.seconds) a else b }
      warm.foreach(t => println(f"query ${t.family}%-14s ${t.name}%-32s ${t.seconds}%8.3f s ${t.rows}%8d rows"))
      val chosen = pick(warm)
      warm.groupBy(_.family).toSeq.sortBy(_._1).foreach { case (f, qs) =>
        val c = chosen.find(_.family == f).get
        println(f"family $f%-14s ${qs.size}%3d queries, total ${qs.map(_.seconds).sum}%7.3f s, " +
          f"median query -> ${c.name} (${c.seconds}%.3f s, ${c.rows} rows)")
      }
    } finally spark.stop()
  }
}
