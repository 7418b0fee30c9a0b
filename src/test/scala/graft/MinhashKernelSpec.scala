package graft

import java.security.MessageDigest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Pins for the MinHash kernel behind every signature and band key:
  * golden digests of its output on the sf0.001 documents, duplicate-id
  * behaviour of the per-row and the merged routes, and edge inputs
  * (null, empty, one token, fewer than `shingleN` tokens) checked
  * against a plain-Scala recomputation of the same hash family.
  */
class MinhashKernelSpec extends SparkSuite {

  // the reference sf0.001 documents (a byte-identical copy is kept with
  // the benchmark; digests in perfbench/fixtures/SHA256SUMS)
  private val dir = "perfbench/fixtures/sf0.001"

  private def hex(algo: String, s: String): String =
    MessageDigest.getInstance(algo).digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  private def sha256Lines(lines: Seq[String]): String =
    hex("SHA-256", lines.sorted.mkString("\n"))

  /** Plain-Scala MinHash over the distinct word shingles of `text`, as
    * the kernel defines it: `split(text, ' ')`; fewer than `n` tokens
    * (and null text) collapse to ONE whole-document shingle; each
    * shingle hashes to the first 12 hex digits of its md5 mod P; k
    * affine minima. */
  private def refMins(texts: Seq[String], k: Int, n: Int = 5): Seq[Long] = {
    val shingles = texts.flatMap { t =>
      val toks = Option(t).getOrElse("").split(" ", -1).toSeq
      if (toks.size >= n) toks.sliding(n).map(_.mkString(" ")).toSeq
      else Seq(toks.mkString(" "))
    }.distinct
    val hs = shingles.map(s =>
      java.lang.Long.parseLong(hex("MD5", s).take(12), 16) % Dedup.MinhashP)
    (0 until k).map(i =>
      hs.map(h => (h * Dedup.MinhashA(i) + Dedup.MinhashB(i)) % Dedup.MinhashP).min)
  }

  private def refBandKeys(mins: Seq[Long], rowsPerBand: Int): Seq[String] =
    mins.grouped(rowsPerBand).map(g => hex("MD5", g.mkString(":"))).toSeq

  private def stackedRows(docs: DataFrame, bands: Int, rpb: Int): Seq[String] =
    docs.select(col("doc_id"),
        posexplode(Dedup.bandKeysArray(col("text"), bands, rpb)))
      .collect().toSeq
      .map(r => s"${r.getLong(0)},${r.getInt(1)},${r.getString(2)}")

  private def signatureRows(docs: DataFrame, k: Int): Seq[String] =
    Dedup.minhashSignature(docs, k).collect().toSeq
      .map(r => (0 to k).map(r.get).mkString(","))

  test("golden pin: band keys (2x4, 8x2) and k=8 signatures on sf0.001 " +
      "documents hash to the recorded SHA-256") {
    val docs = Tables.documents(spark, dir)
    assert(sha256Lines(stackedRows(docs, 2, 4)) ==
      "9ef213b2c1cfb1478956c6cb0efdb300c7011f0b244a9d190f31c6419c0ce90b")
    assert(sha256Lines(stackedRows(docs, 8, 2)) ==
      "d0ba86a2072b4ed783248d8ff7e014df833a8a89f721910dace3814ce7dab540")
    assert(sha256Lines(signatureRows(docs, 8)) ==
      "a6ecb3e9819541945009ca94b1461bca402631d92767576fb2d278b30a684b60")
  }

  test("duplicate doc_id: the stacked LSH route signs each row on its own; " +
      "minhashSignature min-merges the rows into their shingle union") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "one two three four five six seven eight nine ten"
    val docs = frame(
      "doc_id" -> Seq[Any](1L, 1L, 2L),
      "text" -> Seq[Any](a, b, a))
    // row (1, a) alone shares every band with doc 2: the pair exists
    // even though doc 1's other row has nothing in common with doc 2
    val pairs = Dedup.lshCandidatePairs(docs, 2, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    val sig = Dedup.minhashSignature(docs, 8).orderBy("doc_id").collect()
    assert(sig.length == 2)
    assert((1 to 8).map(sig(0).getLong) == refMins(Seq(a, b), 8))
    assert((1 to 8).map(sig(1).getLong) == refMins(Seq(a), 8))
  }

  test("edge inputs: null and empty text both sign the whole-document " +
      "shingle \"\"; one token and < shingleN tokens sign the joined text") {
    val texts = Seq[String](null, "", "solo", "three short words")
    val docs = frame(
      "doc_id" -> Seq[Any](1L, 2L, 3L, 4L),
      "text" -> texts)
    val keys = docs.orderBy("doc_id")
      .select(Dedup.bandKeysArray(col("text"), 2, 4)).collect()
      .map(_.getSeq[String](0)).toSeq
    val expected = texts.map(t => refBandKeys(refMins(Seq(t), 8), 4))
    assert(keys == expected)
    assert(keys(0) == keys(1), "null text and \"\" share their band keys")
    val sig = Dedup.minhashSignature(docs, 8).orderBy("doc_id").collect()
      .map(r => (1 to 8).map(r.getLong)).toSeq
    assert(sig == texts.map(t => refMins(Seq(t), 8)))
    val corpusKeys = Dedup.corpusBandKeys(docs, 2, 4)
      .collect().map(_.getString(0)).toSet
    assert(corpusKeys == expected.flatten.toSet && corpusKeys.size == 6)
    // the verification state holds no rows for the null text (no token
    // set to verify against): the other three texts, two bands each
    val state = Dedup.corpusBandDocs(docs, 2, 4).collect().toSeq
      .map(r => (r.getString(0), r.getSeq[String](1).mkString(" "))).sorted
    assert(state == texts.tail.zip(expected.tail).flatMap { case (t, ks) =>
      ks.map(_ -> t.split(" ", -1).distinct.mkString(" ")) }.sorted)
  }
}
