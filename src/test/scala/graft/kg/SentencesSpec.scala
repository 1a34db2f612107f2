package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** `KgPipeline.sentences` splits with built-in expressions; its rows must be
  * exactly those of Java `String.split('\n')` per English page, which drops
  * trailing empty strings where Spark `split` keeps them. */
class SentencesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def page(url: String, text: String, lang: String = "en") =
    Page(url, new java.sql.Timestamp(0L), Array.emptyByteArray, text, lang)

  test("sentence rows match Java String.split('\\n') on edge-case pages") {
    val pages = Seq(
      page("u/trailing", "Alice met Bob .\nBob works at Hooli .\n"),
      page("u/double-trailing", "One sentence .\n\n"),
      page("u/interior-blank", "First .\n\nThird ."),
      page("u/empty", ""),
      page("u/newlines-only", "\n\n"),
      page("u/leading-blank", "\nSecond ."),
      page("u/carriage-return", "a\n\r"),
      page("u/plain", "No newline at all ."),
      page("u/non-en", "Hola .\nMundo .\n", lang = "es"))
    val expected = pages.filter(_.lang == "en").flatMap { p =>
      p.text.split('\n').iterator.zipWithIndex.map { case (s, i) => (p.url, i, s) }
    }
    val got = KgPipeline.sentences(pages.toDS())
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    assert(got.sorted === expected.sorted)
    // the cases the trailing-empty rule decides, spelled out
    assert(!got.exists(_._1 == "u/newlines-only"))
    assert(got.filter(_._1 == "u/empty") === Seq(("u/empty", 0, "")))
    assert(got.filter(_._1 == "u/interior-blank").map(_._3) === Seq("First .", "", "Third ."))
    assert(KgPipeline.sentences(pages.toDS()).columns.toSeq === Seq("url", "sent_id", "text"))
  }
}
