package graft.functions

import graft.SparkSpec
import graft.plans.References
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String): Any =
    Seq(text).toDF("text").select(c.as("v")).collect().head.get(0)

  test("tokens lowercases and drops empties") {
    assert(one(Text.tokens($"text"), "  The quick  Fox ") == Seq("the", "quick", "fox"))
  }

  test("punctCount counts ASCII punctuation only") {
    assert(one(Text.punctCount($"text"), "a,b.c!d e") == 3)
  }

  test("langId picks the language with most stopword hits") {
    assert(one(Text.langId($"text"), "the cat and the dog is in a house") == "en")
    assert(one(Text.langId($"text"), "der hund und die katze ist nicht da") == "de")
    assert(one(Text.langId($"text"), "le chat et le chien est pour la maison") == "fr")
    assert(one(Text.langId($"text"), "xyzzy qwerty plugh") == "und")
  }

  test("fingerprint is invariant to case, punctuation and whitespace runs") {
    val a = one(Text.fingerprint($"text"), "Hello,   World! 42")
    val b = one(Text.fingerprint($"text"), "hello world 42")
    assert(a == b)
  }

  test("wordShingles produces distinct joined n-grams; empty below n tokens") {
    assert(one(Text.wordShingles($"text", 3), "a b c d") == Seq("a b c", "b c d"))
    assert(one(Text.wordShingles($"text", 3), "a b") == Seq())
  }

  test("redactLongNumbers scrubs runs at the threshold, leaves shorter ones") {
    val got = Seq("call 555 or 5551234, id 123456789!")
      .toDF("text")
      .select(
        Text.redactLongNumbers($"text").as("r"),
        Text.longNumberCount($"text").as("n"))
      .as[(String, Int)].head()
    assert(got == ("call 555 or [NUM], id [NUM]!", 2))
  }

  test("typed PII chain redacts in order and never double-counts a type") {
    val raw = "mail a.b+c@ex-1.org then 10.0.255.7 call +4912345678 ref 987654"
    val got = Seq(raw).toDF("text")
      .select {
        val t1 = Text.redactPattern($"text", Text.EmailPattern, "[EMAIL]")
        val t2 = Text.redactPattern(t1, Text.Ipv4Pattern, "[IP]")
        val t3 = Text.redactPattern(t2, Text.PhonePattern, "[PHONE]")
        struct(
          Text.patternCount($"text", Text.EmailPattern).as("e"),
          Text.patternCount(t1, Text.Ipv4Pattern).as("i"),
          Text.patternCount(t2, Text.PhonePattern).as("p"),
          Text.longNumberCount(t3).cast("long").as("n"),
          Text.redactLongNumbers(t3).as("r")).as("s")
      }
      .select("s.*").as[(Long, Long, Long, Long, String)].head()
    // the phone digits and ip octets must NOT survive into the long-number
    // count (the chain counts each type on the previous stage's output)
    assert(got == ((1L, 1L, 1L, 1L,
      "mail [EMAIL] then [IP] call [PHONE] ref [NUM]")))
  }

  test("native bpeTokens kernel matches the regexp_extract_all formulation") {
    val samples = Seq(
      "Hello, World! It's 42 degrees", "don't rock'n'roll '' 'leading trailing'",
      "", "1234abc5678", "a'b'c''d", "UPPER lower 00x99")
    val df = samples.toDF("text")
      .select(
        Text.regexTokens("text").as("native"),
        References.regexTokensRegexp("text").as("re"))
      .as[(Seq[String], Seq[String])].collect()
    df.foreach { case (n, r) => assert(n == r, s"mismatch: $n vs $r") }
  }

  test("native wordShingles kernel matches the HOF formulation") {
    val samples = Seq(
      "a b c d", "a b", "", "   ", "A  B\tC\nD e", "x x x x x",
      "Hello, World! Hello, World! again", "Ünïcode UPPER lower MiXeD case words")
    val df = samples.toDF("text")
      .select(
        Text.wordShingles($"text", 3).as("native"),
        References.wordShinglesHof($"text", 3).as("hof"),
        Text.wordShingles($"text", 1).as("native1"),
        References.wordShinglesHof($"text", 1).as("hof1"))
      .as[(Seq[String], Seq[String], Seq[String], Seq[String])].collect()
    df.foreach { case (n3, h3, n1, h1) =>
      assert(n3 == h3, s"3-gram mismatch: $n3 vs $h3")
      assert(n1 == h1, s"1-gram mismatch: $n1 vs $h1")
    }
  }

  test("qualityScore is within [0,1] and favors stopword-rich prose") {
    val q1 = one(Text.qualityScore($"text"), "the cat is in the house and it is warm").asInstanceOf[Double]
    val q2 = one(Text.qualityScore($"text"), "!!! ??? ###").asInstanceOf[Double]
    assert(q1 > q2 && q1 <= 1.0 && q2 >= 0.0)
  }
}
