package graft

import graft.table.LineageTable
import org.scalatest.{BeforeAndAfterAll, Outcome, TestSuite}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** File-layout probes over a table's directories, shared by the specs
  * that pin one parquet file per committed bucket. */
object TableFiles {

  def children(dir: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toVector.sortBy(_.toString))

  def bucketDirs(dir: Path): Seq[Path] =
    children(dir).filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("_bucket="))

  def parquetFiles(dir: Path): Int =
    children(dir).map(_.getFileName.toString).count(n => n.endsWith(".parquet") && !n.startsWith("."))

  /** Distinct buckets the urls of `CorpusGen.pages(n)` fall in. */
  def urlBuckets(n: Int, numBuckets: Int): Int =
    graft.gen.CorpusGen.pages(n).map(p => LineageTable.bucketFor(p.url, numBuckets)).distinct.size
}

/** `freshRoot()` makes a temp dir that is deleted when the test ends,
  * passed or failed; `suiteRoot()` makes one the suite's tests share,
  * deleted after the last of them. */
trait TempRoots extends TestSuite with BeforeAndAfterAll {

  private val roots = scala.collection.mutable.ArrayBuffer.empty[Path]
  private val suiteRoots = scala.collection.mutable.ArrayBuffer.empty[Path]

  private def make(into: scala.collection.mutable.ArrayBuffer[Path], prefix: String): String =
    into.synchronized {
      val d = Files.createTempDirectory(prefix)
      into += d
      d.toString
    }

  private def deleteAll(dirs: scala.collection.mutable.ArrayBuffer[Path]): Unit =
    dirs.synchronized {
      dirs.foreach(LineageTable.deleteRecursively)
      dirs.clear()
    }

  protected def freshRoot(prefix: String = "graft-table-"): String = make(roots, prefix)

  protected def suiteRoot(prefix: String): String = make(suiteRoots, prefix)

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally deleteAll(roots)

  override def afterAll(): Unit =
    try super.afterAll() finally deleteAll(suiteRoots)
}
