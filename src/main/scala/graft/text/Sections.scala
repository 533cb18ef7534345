package graft.text

import org.apache.spark.sql.{DataFrame, Dataset}

/** One parsed document section. */
final case class DocSection(doc_id: Long, section: String, content: String)

/** T2 (wikipedia_helpers.py:104-152): section parser — a 1→N generator.
  * Splits plaintext on `== Header ==` lines, tracks the current section
  * ("Introduction" until the first header), STOPS at the first excluded
  * header (References / External links / See also), drops sections shorter
  * than `minLen`. The per-row scan is inherently sequential (the stop rule
  * is stateful), so the idiomatic Spark surface is a typed `flatMap` —
  * a generator over a Dataset, parallel across rows, sequential within one.
  */
object Sections {
  val DefaultExcluded: Set[String] = Set("references", "external links", "see also")
  val MinContentLength = 30

  private val HeaderRe = "^(={2,})\\s*([^=]+?)\\s*(={2,})\\s*$".r

  /** Pure kernel — unit-testable without Spark. */
  def parse(
      text: String,
      minLen: Int = MinContentLength,
      excluded: Set[String] = DefaultExcluded): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    var section = "Introduction"
    val buf = new StringBuilder
    def flush(): Unit = {
      val content = buf.toString.trim
      if (content.length >= minLen) out += ((section, content))
      buf.clear()
    }
    var stopped = false
    val lines = text.split("\n", -1)
    var i = 0
    while (i < lines.length && !stopped) {
      lines(i) match {
        case HeaderRe(_, title, _) =>
          flush()
          if (excluded.contains(title.toLowerCase)) stopped = true
          else section = title
        case line =>
          if (buf.nonEmpty) buf.append('\n')
          buf.append(line)
      }
      i += 1
    }
    if (!stopped) flush()
    out.result()
  }

  /** Dataset generator: documents(doc_id, text) → sections. */
  def explode(docs: DataFrame): Dataset[DocSection] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)].flatMap { case (id, text) =>
      parse(Option(text).getOrElse("")).map { case (s, c) => DocSection(id, s, c) }
    }
  }
}
