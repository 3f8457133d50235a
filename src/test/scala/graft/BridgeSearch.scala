package graft

import org.apache.spark.sql.functions._

/** Dev probe (r19): search for texts A,B,C with simhash hamming
  * d(A,B) >= 4, d(A,C) <= 3, d(B,C) <= 3 — a "bridge" triple where C
  * merges two standing corpus components. StreamingSpec's p163 BRIDGE
  * lane hardcodes a triple this probe found (word-drop sets against
  * the REAL simhash64); re-run it if the tokenizer or hashes change.
  * Usage: sbt "Test/runMain graft.BridgeSearch"
  */
object BridgeSearch {
  def main(args: Array[String]): Unit = {
    val spark = Env.session(8)
    import spark.implicits._
    val base = (0 until 48).map(i => f"word$i%02d")
    val extras = (0 until 26).map(i => ('a' + i).toChar.toString * 5)
    val r = new java.util.Random(7)
    // candidates: base with k in 1..4 words replaced by extras
    val cands = (0 until 400).map { i =>
      val k = 1 + r.nextInt(4)
      val dropIdx = (0 until k).map(_ => r.nextInt(base.length)).distinct
      val add = (0 until k).map(_ => extras(r.nextInt(extras.length))).distinct
      val words = base.zipWithIndex.collect {
        case (w, j) if !dropIdx.contains(j) => w
      } ++ add
      (i.toLong, words.mkString(" "))
    } :+ (400L, base.mkString(" "))
    val df = cands.toDF("doc_id", "text")
    val sh = graft.ops.DedupOps.simhash64(df, "doc_id", "text")
      .select(col("doc_id"), col("simhash"))
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    def d(a: Long, b: Long) = java.lang.Long.bitCount(sh(a) ^ sh(b))
    val ids = sh.keys.toArray.sorted
    var found = 0
    val out = new StringBuilder
    for (a <- ids; b <- ids if a < b && found < 5) {
      val dab = d(a, b)
      if (dab >= 4 && dab <= 6) {
        for (c <- ids if c != a && c != b && found < 5) {
          if (d(a, c) <= 3 && d(b, c) <= 3) {
            found += 1
            out ++= s"TRIPLE dAB=$dab dAC=${d(a, c)} dBC=${d(b, c)}\n"
            out ++= s"A($a): ${cands.find(_._1 == a).get._2}\n"
            out ++= s"B($b): ${cands.find(_._1 == b).get._2}\n"
            out ++= s"C($c): ${cands.find(_._1 == c).get._2}\n\n"
          }
        }
      }
    }
    println(if (found == 0) "NO TRIPLE FOUND" else out.toString)
    spark.stop()
  }
}
