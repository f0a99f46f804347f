package graft

import java.nio.file.Files
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.functions._
import graft.operators.Sink

/** A local FileSystem whose renames and deletes can be made to fail.
  * Every swap, tombstone cleanup and manifest write in [[Sink]]
  * resolves its FileSystem from the path's URI, so installing this
  * class as `fs.file.impl` (see [[IndexFaultSpec]]) puts a fault at any
  * of those steps without a hook in the production code. Only the
  * top-level call is intercepted; the checksum layer underneath talks
  * to the raw filesystem.
  */
class FaultyLocalFs extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean =
    FaultyLocalFs.fire("rename", src, dst) && super.rename(src, dst)

  override def delete(p: Path, recursive: Boolean): Boolean =
    FaultyLocalFs.fire("delete", p, p) && super.delete(p, recursive)
}

object FaultyLocalFs {
  /** What an armed fault does: the call returns false, or it throws —
    * a crash at that point of the lifecycle call.
    */
  sealed trait Effect
  case object Fail extends Effect
  case object Crash extends Effect

  private final class Armed(val op: String, val hit: (Path, Path) => Boolean,
      var skip: Int, val effect: Effect) {
    var fired = false
  }

  @volatile private var armed: Option[Armed] = None

  /** Run `body` with the `nth` matching `op` call faulted; fails the
    * test if that call never happened (a fault that does not fire
    * proves nothing).
    */
  def inject[T](op: String, nth: Int, effect: Effect)(
      hit: (Path, Path) => Boolean)(body: => T): T = {
    val a = new Armed(op, hit, nth - 1, effect)
    armed = Some(a)
    try {
      val r = body
      assert(a.fired, s"the armed $op fault (#$nth) never fired")
      r
    } finally armed = None
  }

  /** True lets the call through. */
  private def fire(op: String, a: Path, b: Path): Boolean = synchronized {
    armed.filter(x => !x.fired && x.op == op && x.hit(a, b)) match {
      case None => true
      case Some(x) if x.skip > 0 => x.skip -= 1; true
      case Some(x) =>
        x.fired = true
        x.effect match {
          case Fail => false
          case Crash => throw new java.io.IOException(s"injected crash at $op($a, $b)")
        }
    }
  }
}

/** Fault injection over the stored-index lifecycle: each step of a
  * compaction — the rename of the live table aside, the rename of the
  * compacted tree into place, the tombstone cleanup after the swap and
  * (dedup only; IVF compaction writes no manifest) the manifest's
  * temp-file rename — fails or crashes once. Afterwards the index
  * either serves what it served before, or the next mutator recovers
  * it and then serves that.
  */
class IndexFaultSpec extends SparkSpec {
  import FaultyLocalFs.{Crash, Fail}
  import IndexFaultSpec.Case

  private def withFaultyFs[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[FaultyLocalFs].getName)
    // uncached, so every getFileSystem call builds the faulty class
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  private val asideRename: (Path, Path) => Boolean = (_, dst) => dst.getName.endsWith("__old")
  private val forwardRename: (Path, Path) => Boolean = (src, _) => src.getName.endsWith("__compact")
  private val tombstoneDelete: (Path, Path) => Boolean = (p, _) =>
    Option(p.getParent).exists(_.getName == "tombstones")
  private val manifestRename: (Path, Path) => Boolean = (src, _) =>
    src.getName.startsWith("_graft_manifest.json.") && src.getName.endsWith(".tmp")

  private def copyOf(fixture: String): String = {
    val d = Files.createTempDirectory("graft-fault").toString + "/idx"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(fixture), new java.io.File(d))
    d
  }

  private def leftovers(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith("__old") || n.endsWith("__compact")).toSeq
  }

  private def tombstoneFiles(dir: String): Int =
    Option(new java.io.File(s"$dir/tombstones").listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)

  /** Run every case against a copy of `fixture`: fault the compaction,
    * check service, compact again without the fault, and check the
    * index serves the same, holds no swap leftovers and has consumed
    * its tombstones.
    */
  private def runCases(fixture: String, cases: Seq[Case],
      compact: String => Unit, serve: String => Seq[Seq[Any]]): Unit = {
    val expected = serve(fixture)
    assert(tombstoneFiles(fixture) > 0, "the fixture must carry tombstones")
    cases.foreach { c =>
      val dir = copyOf(fixture)
      val thrown = withFaultyFs(FaultyLocalFs.inject(c.op, c.nth, c.effect)(c.hit)(
        scala.util.Try(compact(dir))))
      assert(thrown.isFailure, s"${c.name}: the faulted compaction must fail loudly")
      if (c.servableAfter)
        assert(serve(dir) == expected, s"${c.name}: serves what it served before")
      compact(dir)
      assert(serve(dir) == expected, s"${c.name}: the next mutator recovers")
      assert(leftovers(dir).isEmpty, s"${c.name}: swap leftovers ${leftovers(dir)}")
      assert(tombstoneFiles(dir) == 0, s"${c.name}: tombstones not consumed")
    }
  }

  test("fault injection: IVF compaction serves or recovers after a fault at each step") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val fixture = Files.createTempDirectory("graft-fault-ivf").toString + "/idx"
    Sink.writeIvfIndex(e.filter(col("vec_id") < 400), fixture, Sink.Flat,
      Sink.Cells(8), iters = 2)
    Sink.appendToIvfIndex(e.filter(col("vec_id") >= 400), fixture)
    Sink.deleteFromIvfIndex(spark, fixture,
      e.filter(pmod(col("vec_id"), lit(13L)) === 0).select("vec_id"))
    runCases(fixture, Seq(
        Case("rename aside returns false", "rename", 1, Fail, asideRename, true),
        Case("rename aside crashes", "rename", 1, Crash, asideRename, true),
        Case("rename into place returns false (rolled back)", "rename", 1, Fail,
          forwardRename, true),
        Case("rename into place crashes", "rename", 1, Crash, forwardRename, false),
        Case("crash before the tombstone cleanup", "delete", 1, Crash,
          tombstoneDelete, true)),
      dir => Sink.compactIvfIndex(spark, dir),
      dir => Sink.searchIvfIndex(spark, e, dir, 10, 3, 2)
        .collect().map(_.toSeq).toSeq)
  }

  test("fault injection: dedup compaction serves or recovers after a fault at each step") {
    // a small corpus keeps the 256-bucket partition grids small: the
    // compactions rewrite one file per touched bucket
    val all = Tables.documents(spark, "/root/testdata/sf0.001").select("doc_id", "text")
    val fixture = Files.createTempDirectory("graft-fault-dedup").toString + "/idx"
    Sink.writeDedupIndex(all.filter(col("doc_id") < 40), fixture)
    Sink.appendToDedupIndex(all.filter(col("doc_id") >= 40 && col("doc_id") < 60), fixture)
    Sink.deleteFromDedupIndex(spark, fixture,
      all.filter(col("doc_id") < 3 || col("doc_id") === 7L).select("doc_id"))
    // new docs plus verbatim and near copies of stored docs (some of
    // them deleted), so exact, near and new all serve
    val batch = all.filter(col("doc_id") >= 60 && col("doc_id") < 80)
      .unionByName(all.filter(col("doc_id") < 6)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(all.filter(col("doc_id") >= 6 && col("doc_id") < 12)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" zq1 zq2 zq3")).as("text")))
    runCases(fixture, Seq(
        Case("rename aside returns false", "rename", 1, Fail, asideRename, true),
        // the first table already swapped: a mixed generation
        Case("second table's rename aside returns false", "rename", 2, Fail,
          asideRename, true),
        Case("rename into place returns false (rolled back)", "rename", 1, Fail,
          forwardRename, true),
        Case("rename into place crashes", "rename", 1, Crash, forwardRename, false),
        Case("crash before the tombstone cleanup", "delete", 1, Crash,
          tombstoneDelete, true),
        Case("crash between the manifest temp write and its rename", "rename", 1,
          Crash, manifestRename, true)),
      dir => Sink.compactDedupIndex(spark, dir),
      dir => Sink.classifyWithDedupIndex(spark, batch, dir)
        .collect().map(_.toSeq).toSeq)
  }
}

object IndexFaultSpec {
  /** One fault case: where, which matching call, what it does, and
    * whether the faulted call leaves the index servable as it is (else
    * the next mutator must recover it first).
    */
  final case class Case(name: String, op: String, nth: Int,
      effect: FaultyLocalFs.Effect, hit: (Path, Path) => Boolean,
      servableAfter: Boolean)
}
