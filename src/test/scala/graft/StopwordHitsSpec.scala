package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funspec.AnyFunSpec
import graft.operators.TextAnalysis

/** The native stopword profile against the built-in lambda form it
  * replaced, and the single-reference language argmax against the
  * when-fold it replaced. */
class StopwordHitsSpec extends AnyFunSpec {
  import SharedSpark.spark
  import spark.implicits._

  private val profiles = TextAnalysis.stopwords.map(_._2)
  private val union = profiles.flatten.distinct

  /** The built-in form: one split and one interpreted filter per profile. */
  private def builtIn(text: Column, words: Seq[String]): Column =
    size(filter(split(text, " "), t => t.isInCollection(words)))

  private val texts = Seq(
    Some(""), None, Some(" "), Some("  "), Some("the"), Some(" the"), Some("the "),
    Some("the  of"), Some("  the a  of  "), Some("The THE the"), Some("the, a. of!"),
    Some("la un le de"), Some("la la un"), Some("der die das und ist ein"),
    Some("el y es le et les est shi he zai"), Some("thé the\tthe the\nof"),
    Some("ünïcödé de la"), Some("x" * 500 + " the"))

  describe("stopword_hits") {
    // without ConvertToLocalRelation the projection runs in a task, so
    // the factory mode picks generated code or interpreted eval
    val modes = Seq("codegen" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "interpreted" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false"))
    for ((mode, modeConfs) <- modes; ansi <- Seq("true", "false")) {
      it(s"equals the built-in split/filter form per profile and for the union ($mode, ansi=$ansi)") {
        val confs = modeConfs ++ Seq("spark.sql.ansi.enabled" -> ansi,
          "spark.sql.optimizer.excludedRules" ->
            "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
        Session.withConf(spark, confs: _*) {
          val t = $"t"
          val p = call_function("stopword_hits", t, typedLit(profiles))
          val native = (0 to profiles.size).map(p.getItem)
          val ref = profiles.map(builtIn(t, _)) :+ builtIn(t, union)
          val rows = texts.toDF("t").select(array(native: _*), array(ref: _*), p).collect()
          rows.zip(texts).foreach { case (r, text) =>
            assert(r.getSeq[Any](0) == r.getSeq[Any](1), s"text $text")
          }
          // size(null) is -1 outside ANSI mode (legacy sizeOfNull), else null
          val nullRow = rows(texts.indexOf(None))
          if (ansi == "true") assert(nullRow.isNullAt(2))
          else assert(nullRow.getSeq[Int](2) == Seq.fill(profiles.size + 1)(-1))
          // words in two profiles count once in each, and once in the union
          val two = rows(texts.indexOf(Some("la un le de"))).getSeq[Int](2)
          assert(two == Seq(0, 0, 2, 3, 2, 4))
        }
      }
    }
    it("rejects a wrong argument count with WRONG_NUM_ARGS") {
      for (call <- Seq("stopword_hits(t)", "stopword_hits(t, array(array('a')), 1)")) {
        val ex = intercept[org.apache.spark.sql.AnalysisException] {
          Seq("a b").toDF("t").select(expr(call)).collect()
        }
        assert(ex.getCondition.startsWith("WRONG_NUM_ARGS") && ex.getMessage.contains("stopword_hits"))
      }
    }
    it("rejects a non-literal or mistyped profile list with NON_FOLDABLE_ARGUMENT") {
      for (call <- Seq("stopword_hits(t, array(array(t)))", "stopword_hits(t, array(1, 2))")) {
        val ex = intercept[org.apache.spark.sql.AnalysisException] {
          Seq("a b").toDF("t").select(expr(call)).collect()
        }
        assert(ex.getCondition == "NON_FOLDABLE_ARGUMENT" && ex.getMessage.contains("stopword_hits"))
      }
    }
  }

  describe("languageId's argmax") {
    it("equals the when-fold on random hit vectors, with ties, zeros and null counts") {
      val langs = TextAnalysis.stopwords.map(_._1)
      // counts come all null (null text) or none null; -1 is the
      // legacy size of null
      val vector = Gen.listOfN(langs.size, Gen.frequency(8 -> Gen.choose(0, 3), 1 -> Gen.const(-1)))
      val vectors = Iterator.continually(vector.sample).flatten.take(2000)
        .map(_.map(Option(_))).toSeq :+ Seq.fill(langs.size)(Option(0)) :+
        Seq.fill(langs.size)(Option.empty[Int])
      val df = vectors.toDF("h")
      val hits = langs.indices.map(i => langs(i) -> col("h").getItem(i))
      // the fold languageId used before: the first language whose count
      // is positive and at least every later language's count
      val fold = hits.zipWithIndex.foldRight(lit("und")) { case (((lang, h), i), els) =>
        val isMax = hits.drop(i + 1).foldLeft(h > 0) { case (c, (_, h2)) => c && h >= h2 }
        when(isMax, lang).otherwise(els)
      }
      val rows = df.select(col("h"), fold.as("fold"), TextAnalysis.argmaxLang(hits).as("max"))
        .collect()
      assert(rows.length == vectors.size)
      rows.foreach(r => assert(r.getString(1) == r.getString(2), s"hits ${r.get(0)}"))
      assert(rows.map(_.getString(2)).toSet == (langs :+ "und").toSet)
    }
  }
}
