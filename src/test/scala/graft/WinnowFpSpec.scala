package graft

import org.apache.spark.sql.functions._

/** Winnowing fingerprint laws: rolling-hash correctness against a naive
  * reimplementation, the shared-substring guarantee, and edge cases.
  */
class WinnowFpSpec extends SparkSpec {

  private val Mod  = (1L << 31) - 1
  private val Base = 257L

  /** Naive O(n·k) reference: hash every gram from scratch, then window min. */
  private def naive(text: String, k: Int, w: Int): Seq[Long] = {
    val bytes = text.getBytes("UTF-8")
    val gh = (0 to bytes.length - k).map { i =>
      bytes.slice(i, i + k).foldLeft(0L)((a, b) => (a * Base + (b & 0xff)) % Mod)
    }
    (0 to gh.length - w).map(p => gh.slice(p, p + w).min)
  }

  private def eval(text: String, k: Int = 8, w: Int = 4): Seq[Long] = {
    import spark.implicits._
    Seq(text).toDF("t").select(expr(s"winnow_fp(t, $k, $w)")).collect()
      .head.getSeq[Long](0).toSeq
  }

  test("rolling hash equals the from-scratch gram hash on random text") {
    val rnd = new scala.util.Random(3)
    (1 to 20).foreach { _ =>
      val text = (1 to rnd.nextInt(60) + 12).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      assert(eval(text) == naive(text, 8, 4), s"text $text")
    }
  }

  test("shared substrings of length >= w + k - 1 share a fingerprint") {
    val shared = "the quick brown fox jumps"
    val a = s"AAAA $shared BBBB padding text one"
    val b = s"CCCCCC $shared DD other padding two"
    val common = eval(a).toSet & eval(b).toSet
    assert(common.nonEmpty)
    // and two unrelated texts share nothing
    val unrelated = eval("zzzz yyy xxx wwww vvv uuu tttt sss").toSet &
      eval("1111 222 333 4444 555 666 7777 888").toSet
    assert(unrelated.isEmpty)
  }

  test("texts too short for a full window yield an empty array; null stays null") {
    assert(eval("abcdefghij") == Seq.empty) // 10 bytes < k + w - 1 = 11
    assert(eval("abcdefghijk").size == 1)   // exactly one window
    import spark.implicits._
    val n = Seq("x").toDF("t")
      .select(expr("winnow_fp(cast(null as string), 8, 4)")).collect()
    assert(n.head.isNullAt(0))
  }
}
