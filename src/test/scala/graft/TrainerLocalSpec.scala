package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{TextOps, TrainPrep}

/** Round-19 equivalence gates for the tokenizer trainers' size-adaptive
  * LOCAL merge loops (byteBpeTrain / wordPieceTrain): with
  * [[LocalFastPath]] off the audited distributed loops run; with
  * defaults the in-process replay runs; both must produce
  * IDENTICAL merge lists (ranks, symbols, counts, scores) on the real
  * sf0.001 corpus, tie-heavy fixtures, and non-ASCII symbols where
  * Spark's binary UTF-8 ordering differs from Java's UTF-16 order.
  */
class TrainerLocalSpec extends SparkSpec {
  import spark.implicits._

  // precondition: the fixture's word table (keyed by `word`, as the
  // trainer keys it) fits the constant local bound, so the default arm
  // really runs in-process — never distributed against distributed
  private def assertLocalSized(tag: String, docs: DataFrame,
      word: Column): Unit = {
    val rows = docs.select(explode(word).as("w")).distinct().count()
    assert(rows <= LocalFastPath.BpeWords,
      s"$tag: $rows-row word table exceeds the local bound")
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def fixtures: Seq[(String, DataFrame)] = {
    val real = graft.sources.Ingest.table(spark, "/root/testdata/sf0.001",
      "documents").select(col("doc_id"), col("text"))
    // tie-heavy: repeated long words make every internal pair tie
    val ties = Seq("aaaa aaaa aaaa bbbb", "abab abab", "ba ab ba ab",
      "cc cc cc cc").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // non-ASCII: an astral-plane emoji (U+1F600) vs U+FFFD — UTF-8 byte
    // order puts the emoji AFTER U+FFFD, Java UTF-16 order puts its
    // high surrogate (0xD83D) BEFORE (0xFFFD); ties on count force the
    // lex tie-break through exactly this comparison
    val unicode = Seq("😀x �x 😀x �x",
      "éé öö éé öö", "宇宙 宇宙 词 词").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    Seq(("real-sf0.001", real), ("ties", ties), ("unicode", unicode))
  }

  test("byteBpeTrain local merge loop equals the distributed loop") {
    for ((tag, docs) <- fixtures; nM <- Seq(1, 6)) {
      assertLocalSized(tag, docs, TrainPrep.gpt2PreTokens(col("text")))
      val slow = withLocalFastPathOff(rowsOf(
        TrainPrep.byteBpeTrain(docs, "text", nM).orderBy(col("rank"))))
      val fast = rowsOf(
        TrainPrep.byteBpeTrain(docs, "text", nM).orderBy(col("rank")))
      assert(fast == slow, s"byteBpeTrain $tag nM=$nM diverges")
    }
  }

  test("wordPieceTrain local merge loop equals the distributed loop") {
    for ((tag, docs) <- fixtures; nM <- Seq(1, 6)) {
      assertLocalSized(tag, docs, TextOps.tokens(col("text")))
      val slow = withLocalFastPathOff(rowsOf(
        TrainPrep.wordPieceTrain(docs, "text", nM).orderBy(col("rank"))))
      val fast = rowsOf(
        TrainPrep.wordPieceTrain(docs, "text", nM).orderBy(col("rank")))
      assert(fast == slow, s"wordPieceTrain $tag nM=$nM diverges")
    }
  }

  test("compareUtf8 is Spark's binary string order, not UTF-16 order") {
    val pairs = Seq(("�", "😀"), ("a", "b"), ("", "a"),
      ("ab", "a"), ("é", "z"), ("宇", "é"))
    for ((x, y) <- pairs) {
      val viaSpark = Seq(x, y).toDF("s").orderBy(col("s"))
        .collect().map(_.getString(0)).toSeq
      val viaLocal = Seq(x, y).sortWith(TrainPrep.compareUtf8(_, _) < 0)
      assert(viaSpark == viaLocal, s"ordering diverges on ($x, $y)")
    }
  }
}
