package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Specs for Normalize (SURVEY.md §2.3-2.4, §2.8). Row-hash expectations are
  * pinned to the reference algorithm's actual output (hashlib.sha256 over
  * json.dumps(..., sort_keys=True); staging_repository.py:19-44). */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._
  import Normalize._

  private def hashOf(jobId: Int, rowNum: Long, email: String, fn: String,
      ln: String, co: String): String =
    Seq((jobId, rowNum, email, fn, ln, co))
      .toDF("job_id", "row_number", "email", "first_name", "last_name", "company")
      .select(rowHash(col("job_id"), col("row_number"), col("email"),
        col("first_name"), col("last_name"), col("company")).as("h"))
      .head().getString(0)

  test("rowHash matches reference Python json.dumps/sha256 byte-for-byte") {
    assert(hashOf(7, 3, " Ann.B@Example.COM ", " Ann ", "Bee", "Acme Inc") ===
      "ceb1f15cf14602ba12f1c7eaff51dd284a263c4e79bb842f48e6a5142f3529b2")
    assert(hashOf(1, 1, "", "", "", "") ===
      "6296c4cb43662466b1b69e38c7dbf2faa245db9b863ee632504b94e012a40d51")
  }

  test("rowHash escapes quotes and backslashes like Python json.dumps") {
    assert(hashOf(42, 999, "x+tag@sub.domain.co", "O'Brien", "D Angelo", "A \"B\" C\\D") ===
      "e39b51b0faf19665876457e51135e696f921d72fbfbfc5fa09204b060616846e")
  }

  test("rowHash escapes \\n, \\r, \\t, backslash and quote like Python json.dumps") {
    // Expected: hashlib.sha256(json.dumps({"job_id": 9, "row_number": 12,
    // "email": "line\nbreak@ex.co", "first_name": "Tab\tbed",
    // "last_name": "CR\r\nLF", "company": "Q \"uoted\" \\ Slash"},
    // sort_keys=True).encode()).hexdigest()
    assert(hashOf(9, 12, " Line\nBreak@Ex.CO ", " Tab\tbed ", "CR\r\nLF", " Q \"uoted\" \\ Slash ") ===
      "7485b7dc011896ba6f53372d898768ceeb1199d558ecb607a2adc038fe58cc17")
  }

  test("rowHash is sensitive to row_number and job_id (idempotency key)") {
    val base = hashOf(1, 1, "a@b.co", "A", "B", "C")
    assert(base !== hashOf(1, 2, "a@b.co", "A", "B", "C"))
    assert(base !== hashOf(2, 1, "a@b.co", "A", "B", "C"))
    assert(base === hashOf(1, 1, " A@B.CO ", " A ", " B ", " C "))
  }

  test("normEmail lowers, trims, and null-defaults") {
    val got = Seq(Some(" Ann.B@Example.COM "), Some(""), None)
      .toDF("e").select(normEmail(col("e"))).as[String].collect()
    assert(got.toSeq === Seq("ann.b@example.com", "", ""))
  }

  test("email regex accepts/rejects per reference pattern") {
    val ok = Seq("a@b.co", "a.b+c_d%e-f@sub.domain.org", "A@B.CO")
    val bad = Seq("", "a@b", "a@b.c", "a b@c.co", "@b.co", "a@.co", "a@b.c0")
    val got = (ok ++ bad).toDF("e").select(col("e"), emailValid(col("e")))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    ok.foreach(e => assert(got(e), s"$e should be valid"))
    bad.foreach(e => assert(!got(e), s"$e should be invalid"))
  }

  test("issueKey falls back to synthesized key when email empty") {
    val got = Seq(("a@b.co", 5L), ("", 9L))
      .toDF("ne", "id")
      .select(issueKey(col("ne"), "row_", col("id"))).as[String].collect()
    assert(got.toSeq === Seq("a@b.co", "row_9"))
  }
}
