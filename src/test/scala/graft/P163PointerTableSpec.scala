package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** r21 (VERDICT r19 #3 / r20 #7): the p163 bucket-pointer map's
  * production escape hatch. With `pointerTable = true` the per-bucket
  * version pointers live in a versioned parquet table — reloaded from
  * disk at every batch start and before the final assembly — instead
  * of driver process memory, removing the ~1e9-bucket driver ceiling
  * and making the pointers crash-recoverable. This lane proves the
  * table path computes EXACTLY the default path's output at sf0.001
  * (same clustering, row for row) and that the snapshot table
  * actually exists on disk with one live version.
  */
class P163PointerTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Env.session(4)

  override def afterAll(): Unit = spark.stop()

  test("pointerTable=true computes the identical incremental-CC state " +
    "and leaves exactly one live pointer snapshot") {
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files
      .createTempDirectory("p163ptr").toString
    val defaultOut = graft.streaming.StreamingOps
      .incrementalCcIngest(spark, dir, s"$base/default")
    val tableOut = graft.streaming.StreamingOps
      .incrementalCcIngest(spark, dir, s"$base/ptr", pointerTable = true)
    assert(tableOut.except(defaultOut).isEmpty
        && defaultOut.except(tableOut).isEmpty,
      "pointer-table mode must fold to the identical final state")
    // the snapshot table is real, on disk, and GC'd to one live version
    val ptrDirs = Option(new java.io.File(s"$base/ptr").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("pointers_v"))
    assert(ptrDirs.length == 1,
      s"expected exactly one live pointer snapshot, found " +
        s"${ptrDirs.map(_.getName).mkString(", ")}")
    val snap = spark.read.parquet(ptrDirs.head.getPath)
    assert(snap.columns.toSet == Set("bk", "ver", "has_f"))
    assert(snap.count() > 0, "snapshot must hold the live bucket set")
    // cleanup
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(base))
  }
}
