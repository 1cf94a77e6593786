package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.gen.CorpusGen
import graft.model.{ConversionOptions, Page}
import graft.pipeline.ExtractKernel
import org.apache.spark.sql.{Dataset, SparkSession}

/** Inputs the program does not produce, made from the seed at the start
  * of every run, before any timing, under the run's own work dir:
  *  - the pages corpus as parquet, `CorpusGen.pageFor(i, seed)` for
  *    i in [0, pages);
  *  - for traced runs, WARC.gz shards of [[Fixtures.ShardedPages]] pages
  *    in a seeded page order, for the streaming probe.
  * Nothing is cached between runs, so every run starts from the same JVM
  * state and checks against the code under test. */
final class Fixtures(spark: SparkSession, val seed: Long, val pages: Int, dir: Path, withShards: Boolean) {
  import Fixtures._

  val corpusDir: String = dir.resolve("pages").toString
  val shardDir: Path = dir.resolve("shards")

  locally {
    import spark.implicits._
    val s = seed
    spark.range(0, pages.toLong, 1, CorpusFiles).map(i => CorpusGen.pageFor(i, s)).write.parquet(corpusDir)
    if (withShards) {
      val groups = shardOrder.take(ShardedPages).grouped(ShardPages).zipWithIndex.toVector
      val out = shardDir.toString
      Files.createDirectories(shardDir)
      spark.sparkContext.parallelize(groups, math.min(groups.size, CorpusFiles)).foreach { case (idx, k) =>
        val bytes = gzip(graft.gen.WarcGen.warcBytes(idx.map(i => CorpusGen.pageFor(i.toLong, s))))
        Files.write(Paths.get(out, shardName(k)), bytes)
      }
    }
  }

  def corpus: Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(corpusDir).as[Page]
  }

  /** url -> sha256(content) of every page as `ExtractKernel.extractOne`
    * with the default options produces it; computed once per run, before
    * any timing. */
  def reference: Map[String, String] = {
    import spark.implicits._
    val rows = corpus.mapPartitions { it =>
      val opts = ConversionOptions()
      it.map { p =>
        val r = ExtractKernel.extractOne(p, opts)
        (r.url, r.status, Digest.contentSha(r.content))
      }
    }.collect()
    val bad = rows.filter(_._2 != "completed")
    require(bad.isEmpty, s"reference extraction failed for ${bad.length} page(s), e.g. ${bad.head._1}")
    rows.map(r => r._1 -> r._3).toMap
  }

  /** The seeded page order the shards follow. */
  private def shardOrder: IndexedSeq[Int] = new scala.util.Random(seed ^ 0x5ba2d5L).shuffle((0 until pages).toVector)

  /** (shard file name, urls) for every shard, in landing order. */
  lazy val shards: IndexedSeq[(String, Seq[String])] =
    shardOrder.take(ShardedPages).grouped(ShardPages).zipWithIndex.map { case (idx, k) =>
      shardName(k) -> idx.map(i => CorpusGen.urlFor(i.toLong))
    }.toVector
}

object Fixtures {
  val CorpusFiles = 32
  val ShardPages = 50

  /** Pages cut into shards: more than the streaming probe lands. */
  val ShardedPages = 2000

  def shardName(k: Int): String = f"part-$k%05d.warc.gz"

  def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b)
    gz.close()
    bos.toByteArray
  }
}

object Dirs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toVector.reverse.foreach(x => Files.deleteIfExists(x))
  }

  /** (regular files, total bytes) under each of `dirs`. */
  def usage(dirs: Seq[String]): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    dirs.map(d => Paths.get(d.stripPrefix("file:"))).filter(Files.exists(_)).foldLeft((0L, 0L)) { case ((n, b), d) =>
      val fs = Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).toVector
      (n + fs.size, b + fs.map(Files.size).sum)
    }
  }
}
