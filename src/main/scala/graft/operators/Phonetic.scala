package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Phonetic blocking for entity resolution: Soundex codes collapse
  * same-sounding name variants ("Robert"/"Rupert") onto one blocking
  * key — the third member of the linkage-candidate family (edit
  * distance catches typos, Jaro-Winkler scores names, token-sort
  * catches permutations; phonetics catches TRANSCRIPTION variants).
  *
  * The engine path is Spark's native codegen `soundex` expression; the
  * oracle is [[soundexGold]], an INDEPENDENT plain-Scala
  * implementation of American Soundex (with the H/W continuation
  * rule), inlined as a VALUES table at dump time — the
  * [[HashGoldens]] pattern: a regression in either implementation is
  * hash-visible.
  */
object Phonetic {

  /** Planted name corpus: classic Soundex textbook cases (including
    * the H/W continuation and double-letter collapses) plus
    * same-block pairs. */
  val plantedNames: Seq[String] = Seq(
    "Robert", "Rupert", "Rubin",
    "Ashcraft", "Ashcroft",
    "Tymczak", "Pfister", "Honeyman",
    "Smith", "Smyth", "Schmidt",
    "Johnson", "Jonson",
    "Washington", "Lee", "Gutierrez",
    "Jackson", "Tomczak", "VanDeusen", "Deusen")

  /** Independent American Soundex: first letter + three digits from
    * BFPV→1 CGJKQSXZ→2 DT→3 L→4 MN→5 R→6; vowels (AEIOUY) separate
    * equal codes, H/W do NOT (letters coded alike around H/W collapse
    * — the rule that distinguishes refined implementations). */
  def soundexGold(name: String): String = {
    val up = name.toUpperCase.filter(c => c >= 'A' && c <= 'Z')
    require(up.nonEmpty, s"need an alphabetic name, got '$name'")
    def code(c: Char): Int = c match {
      case 'B' | 'F' | 'P' | 'V' => 1
      case 'C' | 'G' | 'J' | 'K' | 'Q' | 'S' | 'X' | 'Z' => 2
      case 'D' | 'T' => 3
      case 'L' => 4
      case 'M' | 'N' => 5
      case 'R' => 6
      case _ => 0 // vowels + H + W
    }
    val sb = new StringBuilder
    sb += up.head
    var last = code(up.head)
    up.tail.foreach { c =>
      val cd = code(c)
      if (cd > 0 && cd != last) sb += ('0' + cd).toChar
      if (c != 'H' && c != 'W') last = cd
      if (sb.length >= 4) return sb.toString
    }
    sb.toString.padTo(4, '0')
  }

  /** The planted corpus as a DataFrame (engine side). */
  def corpusDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    plantedNames.toDF("name")
  }

  /** Dump-time oracle: the independently-computed codes as VALUES. */
  def goldenSql: String = {
    val rows = plantedNames.sorted
      .map(n => s"('$n', '${soundexGold(n)}')").mkString(",\n  ")
    s"""SELECT * FROM (VALUES
  $rows) AS t(name, code)
ORDER BY name"""
  }
}
