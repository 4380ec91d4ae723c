package graft.functions

import graft.SparkSpec
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Normalization and PII detection/redaction on realistic strings (the
  * oracled queries plant synthetic PII; this is the realistic-input
  * coverage). */
class CleanFunctionsSpec extends SparkSpec {
  private def one(c: org.apache.spark.sql.Column): String =
    spark.range(1).select(c.cast("string")).collect().head.getString(0)

  test("normalizeText: case, punctuation, and whitespace variants " +
      "collapse to one canonical form") {
    val variants = Seq(
      "The  FAST key!", "the fast key", "  the FAST, key.  ",
      "the	fast key") // tab is not collapsed (not a plain space) —
    val norms = variants.map(v => one(normalizeText(lit(v))))
    assert(norms.take(3).toSet.size === 1 && norms.head === "the fast key")
    // non-space whitespace is STRIPPED by the punctuation class instead
    assert(norms(3) === "thefast key")
  }

  test("PII counts find emails, phones, and IPs in realistic prose") {
    val s = "Reach me at jane.doe+test@sub.example.co.uk or " +
      "+44 20 7946 0958; server at 192.168.1.250 answered."
    assert(one(piiCount(lit(s), emailPattern)) === "1")
    assert(one(piiCount(lit(s), phonePattern)) === "1")
    assert(one(piiCount(lit(s), ipPattern)) === "1")
  }

  test("redactPii replaces every class in the fixed order and leaves " +
      "surrounding text intact") {
    val s = "mail a@b.io then dial +1 555 123 4567 from 10.0.0.1 ok"
    assert(one(redactPii(lit(s))) ===
      "mail <EMAIL> then dial <PHONE> from <IP> ok")
  }

  test("no false positives on plain prose or near-miss shapes") {
    val s = "version 1.2 costs 10 dollars at 5 pm, not an at-sign issue"
    Seq(emailPattern, phonePattern, ipPattern).foreach { p =>
      assert(one(piiCount(lit(s), p)) === "0", p)
    }
  }

  test("an IPv4 needs all four octets: dotted pairs/triples do not match") {
    assert(one(piiCount(lit("release 10.0.3 and 1.2"), ipPattern)) === "0")
  }
}
