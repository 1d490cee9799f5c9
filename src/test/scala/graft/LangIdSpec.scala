package graft

import graft.queries.LangId
import org.apache.spark.sql.functions._

/** Char-trigram language-ID (LangId): must reach ≥0.9 accuracy on a
  * multilingual fixture with distinct vocabularies — the bar the round-4
  * marker-word heuristic (~0.3 on content) could not clear — and classify
  * degenerate inputs as `und` instead of guessing.
  */
class LangIdSpec extends SparkSpec {

  private val fixture = LangId.fixture

  test("≥0.9 accuracy on a 4-language distinct-vocabulary fixture") {
    import spark.implicits._
    val df = fixture.toDF("lang", "text")
      .withColumn("pred", LangId.langId(col("text")))
    val rows = df.collect()
    val correct = rows.count(r => r.getString(0) == r.getString(2))
    val acc = correct.toDouble / rows.length
    val wrong = rows.filter(r => r.getString(0) != r.getString(2))
      .map(r => s"${r.getString(0)}->${r.getString(2)}: ${r.getString(1).take(40)}")
    assert(acc >= 0.9, s"accuracy $acc\n${wrong.mkString("\n")}")
  }

  test("degenerate inputs → und") {
    import spark.implicits._
    val preds = Seq("", "12345 67890", "!!! ??? ...", "zz")
      .toDF("text")
      .select(LangId.langId(col("text")).as("pred"))
      .collect().map(_.getString(0))
    assert(preds.forall(_ == "und"), preds.mkString(","))
  }

  test("native annotate == HOF expression on fixture, accented, degenerate and fuzz inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val alphabet = "abcdefghijklmnopqrstuvwxyzàéñß ÄÖ!1."
    val fuzz = Seq.fill(200)(
      (0 until rnd.nextInt(60)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val texts = fixture.map(_._2) ++ Seq("", "12345", "zz", "the the the") ++ fuzz
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val native = LangId.annotate(df, "text", "pred")
      .orderBy("id").collect().map(_.getString(2))
    val hof = df.select(col("id"), LangId.langId(col("text")).as("pred"))
      .orderBy("id").collect().map(_.getString(1))
    assert(native.toSeq == hof.toSeq,
      (native, hof, texts).zipped.collect {
        case (n, h, t) if n != h => s"'$t': native=$n hof=$h"
      }.mkString("\n"))
  }

  test("profiles are well-formed: trigram-length entries, no duplicates") {
    LangId.profiles.foreach { case (l, prof) =>
      assert(prof.forall(_.length == 3), s"$l has a non-trigram entry")
      assert(prof.distinct.size == prof.size, s"$l has duplicate trigrams")
    }
  }

  // VERDICT r5 #1 regression guards: the DuckDB twin must normalize with
  // the SAME character class as the Spark expression (round 5 stripped
  // [^a-z], silently diverging on accented text), and the parity fixture
  // must actually contain accented text or the x8 oracle check is vacuous.
  test("oracle twin keeps the accented character class") {
    val sql = LangId.langIdSql
    assert(sql.contains("àáâäãéèêëíìîïóòôöõúùûüçñß"),
      s"twin regex lost the accented KeepChars class:\n$sql")
    assert(!sql.contains("[^a-z]"), "twin fell back to the ASCII-only class")
  }

  test("parity fixture is majority accented and mixed-case") {
    val accented = fixture.count(_._2.exists(_ > 127))
    assert(accented * 2 > fixture.size,
      s"only $accented/${fixture.size} fixture sentences contain non-ASCII")
    assert(fixture.exists(_._2.exists(c => c.isUpper && c > 127)),
      "no uppercase accented char — Unicode lower() parity unexercised")
  }

  test("fixture inlines safely into the oracle VALUES relation") {
    val rel = LangId.fixtureRel
    assert(fixture.forall(s => rel.contains(s._2.replace("'", "''"))))
    assert(rel.contains("CAST(doc_id AS BIGINT)"))
  }

  test("more than 32 profiles throw instead of wrapping the language mask") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.LangIdPick
    val profiles = (0 until 33).map { i =>
      s"l$i" -> Set(s"${('a' + i % 26).toChar}${('a' + i / 26).toChar}x")
    }
    intercept[IllegalArgumentException](LangIdPick(Literal("abc"), profiles))
    // the boundary itself is legal
    LangIdPick(Literal("abc"), profiles.take(32))
  }
}
