package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{NonWsCharCount, StopwordCount, WsTokenCount}

/** [[StopwordCount]] must be VALUE-IDENTICAL to the Column form it
  * replaces — `size(split(concat(' ', s, ' '), "\\s" + quote(word) +
  * "\\s")) - 1` — including Java `Pattern.split`'s two subtleties: the
  * separator CONSUMES its boundary whitespace (so "the the" with single
  * spaces counts once), and `\s` is ASCII-only. The corpus hits both, the
  * CJK/multi-byte path, and a seeded random fuzz; a value mismatch on any
  * input is a hard fail. */
class StopwordCountSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("stopwordcount")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def refForm(word: String) =
    size(split(concat(lit(" "), col("s"), lit(" ")),
      "\\s" + java.util.regex.Pattern.quote(word) + "\\s")) - 1

  private def check(word: String, inputs: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      inputs.map(s => org.apache.spark.sql.Row(s)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val got = df.select(col("s"), StopwordCount(col("s"), word).as("k"),
      refForm(word).as("ref")).collect()
    got.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"word '$word' input '${r.get(0)}': kernel=${r.get(1)} split=${r.get(2)}")
    }
  }

  private val corpus: Seq[String] = Seq(
    null, "", " ", "  ", "the", " the", "the ", " the ", "  the  ",
    "the the", "the the the", "the the the the", "the  the", "the\tthe",
    "the\nthe", "thethe", "the\fthe", "the\rthe", "the the",
    "then theatre lathe", "the cat the dog the", "a the b the c",
    "THE the The", "tthe thee", "x the", "the x", "the\t", "\tthe",
    "\t the \t", "the　the", "日本語 の 的 テスト", "的 的 的",
    "的的", " 的 ", "el la que el", "tab\tthe\ttab", "the-the",
    "'the'", "(the)", " t h e ", "the".reverse)

  test("kernel equals the split form: curated corpus, all marker words") {
    for (w <- Seq("the", "and", "of", "el", "la", "que", "der", "und",
        "die", "le", "et", "的", "是", "在"))
      check(w, corpus)
  }

  test("kernel equals the split form: seeded random fuzz") {
    val rnd = new scala.util.Random(42)
    val atoms = Array("the", "th", "he", "e", "t", "的", " ", "  ", "\t",
      "\n", "\r", "\f", "", "a", "xy", "thethe", "the the")
    val fuzz = (1 to 400).map { _ =>
      (1 to rnd.nextInt(12)).map(_ => atoms(rnd.nextInt(atoms.length))).mkString
    }
    check("the", fuzz)
    check("的", fuzz)
  }

  private def frame(inputs: Seq[String]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      inputs.map(s => org.apache.spark.sql.Row(s)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType, nullable = true))))
  }

  test("WsTokenCount equals size(split(trim(s), \\s+)); NonWsCharCount " +
      "equals length(regexp_replace(trim(s), \\s+, ''))") {
    val rnd = new scala.util.Random(7)
    val atoms = Array("foo", "b", "的", "日本", " ", "  ", "\t", "\n", "\r",
      "\f", "", "", "é", "𝄞", " ", "　", ".")
    val fuzz = (1 to 400).map { _ =>
      (1 to rnd.nextInt(10)).map(_ => atoms(rnd.nextInt(atoms.length))).mkString
    }
    val got = frame(corpus ++ fuzz).select(col("s"),
      WsTokenCount(col("s")).as("tk"),
      size(split(trim(col("s")), "\\s+")).as("tref"),
      NonWsCharCount(col("s")).as("ck"),
      length(regexp_replace(trim(col("s")), "\\s+", "")).as("cref")).collect()
    got.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"tokens '${r.get(0)}': kernel=${r.get(1)} split=${r.get(2)}")
      assert(r.get(3) == r.get(4),
        s"chars '${r.get(0)}': kernel=${r.get(3)} regex=${r.get(4)}")
    }
  }

  test("NULL in, NULL out under spark.sql.ansi.enabled=true and =false") {
    val key = "spark.sql.ansi.enabled"
    val prior = spark.conf.getOption(key)
    try Seq("true", "false").foreach { ansi =>
      spark.conf.set(key, ansi)
      val r = frame(Seq(null)).select(StopwordCount(col("s"), "the"),
        WsTokenCount(col("s")), NonWsCharCount(col("s")),
        size(split(col("s"), "\\s+"))).collect()(0)
      assert((0 to 2).forall(r.isNullAt), s"ansi=$ansi: kernels gave $r")
      // the split form the kernels replace is NULL only under ANSI
      assert(r.isNullAt(3) == (ansi == "true"), s"ansi=$ansi: split gave $r")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("pinned: consecutive single-space markers count every OTHER one") {
    // Pattern.split consumes the trailing space: " the the the " → 2
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row("the the the")).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType, nullable = true))))
    assert(df.select(StopwordCount(col("s"), "the")).collect()(0).getInt(0) == 2)
  }
}
