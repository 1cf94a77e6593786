package graft

import graft.table.LineageTable
import org.scalatest.{Outcome, TestSuite}
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

/** `freshRoot()` makes a temp table root that is deleted when the test
  * ends, passed or failed. */
trait TempRoots extends TestSuite {

  private val roots = scala.collection.mutable.ArrayBuffer.empty[Path]

  protected def freshRoot(): String = roots.synchronized {
    val d = Files.createTempDirectory("graft-table-")
    roots += d
    d.toString
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally roots.synchronized {
      roots.foreach(LineageTable.deleteRecursively)
      roots.clear()
    }
}
