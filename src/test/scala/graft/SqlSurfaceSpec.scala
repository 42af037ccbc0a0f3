package graft

/** The pure-SQL surface: every native expression registered by
  * GraftExtensions must be reachable from `spark.sql` and agree with the
  * typed API it mirrors. */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("minhashSignatures and SQL graft_minhash equal a plain-Scala OPH reference") {
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "Pack  my box\twith FIVE dozen liquor jugs ",
      3L -> "aaaaaaaaaaaaaaaaaaaaaaaa",          // one distinct shingle, repeated
      4L -> "abcde",                             // exactly one window
      5L -> "Ünïcödé façade — naïve café",       // multi-byte windows
      6L -> "abc")                               // sub-shingle: no signature
    val docs = texts.toDF("doc_id", "text")
    docs.createOrReplaceTempView("sql_surface_docs")
    for (k <- Seq(32, 128)) {
      val expected = texts.collect { case (id, t) =>
        val canon = t.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim
        if (canon.length >= 5) Some(id -> OphReference.signature(canon, 5, k)) else None
      }.flatten.toMap
      val typed = graft.operators.Dedup.minhashSignatures(docs, k = k)
        .as[(Long, Array[Long])].collect().map { case (id, sig) => id -> sig.toSeq }.toMap
      assert(typed == expected, s"k=$k")
      val viaSql = spark.sql(
        s"""SELECT doc_id, graft_minhash(trim(regexp_replace(lower(text), '\\\\s+', ' ')), 5, $k)
           |FROM sql_surface_docs WHERE doc_id <> 6""".stripMargin)
        .as[(Long, Array[Long])].collect().map { case (id, sig) => id -> sig.toSeq }.toMap
      assert(viaSql == expected, s"k=$k")
    }
  }

  test("SQL minhash pipeline (shingle TVF + udaf) matches the typed API") {
    // the TVF emits one row per shingle and a SQL-registered fold of the
    // reference bins them; the typed API signs each text in one expression
    spark.udf.register("oph_ref_agg",
      org.apache.spark.sql.functions.udaf(new OphReference.Agg(128)))
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "Pack  my box\twith FIVE dozen liquor jugs "),
      (3L, "abc")).toDF("doc_id", "text")
    val typed = graft.operators.Dedup.minhashSignatures(docs, k = 128)
      .as[(Long, Array[Long])].collect().map { case (id, sig) => id -> sig.toSeq }.toMap
    docs.createOrReplaceTempView("sql_surface_tvf_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, oph_ref_agg(sh) AS sig
        |FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ')) AS canon
        |      FROM sql_surface_tvf_docs)
        |LATERAL VIEW graft_shingle_hashes(canon, 5) t AS sh
        |GROUP BY doc_id""".stripMargin)
      .as[(Long, Array[Long])].collect().map { case (id, sig) => id -> sig.toSeq }.toMap
    assert(typed.keySet == Set(1L, 2L))
    assert(viaSql == typed)
  }

  test("graft_deflate_len in SQL matches the Column API") {
    val docs = Seq((1L, "spam spam spam spam"), (2L, "assorted words differ"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("sql_surface_docs2")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_deflate_len(text, 6) AS n FROM sql_surface_docs2")
      .as[(Long, Long)].collect().toMap
    val viaCol = docs.select($"doc_id",
        graft.functions.TextFunctions.deflateLen($"text").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(viaSql == viaCol)
    assert(viaSql.values.forall(_ > 0))
  }

  test("bloom build + probe works from pure SQL (scalar-subquery bloom)") {
    Seq(1L, 2L, 3L).toDF("v").createOrReplaceTempView("bloom_keys")
    Seq(1L, 3L, 9L).toDF("v").createOrReplaceTempView("bloom_probe")
    // might_contain demands a constant/scalar-subquery bloom — the scalar
    // subquery form is the pure-SQL spelling of the collected literal the
    // Curation operator ships
    val hits = spark.sql(
      """SELECT v FROM bloom_probe
        |WHERE graft_bloom_contains(
        |  (SELECT graft_bloom_agg(xxhash64(v), 100L) FROM bloom_keys),
        |  xxhash64(v))
        |ORDER BY v""".stripMargin)
      .as[Long].collect().toSeq
    // no false negatives: 1 and 3 must hit; 9 may only appear as an fp
    assert(hits.contains(1L) && hits.contains(3L))
    assert(hits.toSet.subsetOf(Set(1L, 3L, 9L)))
  }
}
