package graft

/** SQL surface of the custom Catalyst expressions: the suite's session
  * carries `spark.sql.extensions`, so plain `spark.sql` can call them (the
  * Athena-style consumption path).
  */
class SqlFunctionsSpec extends SparkTestBase {

  test("registered functions are callable from SQL") {
    val r = spark.sql(
      """SELECT simhash64(split('a b c', ' ')) AS sh,
        |       cosine_similarity(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS cs,
        |       minhash(array('x y z'), 8) AS mh,
        |       minhash_tokens(split('x y z w', ' '), 8) AS mht""".stripMargin)
      .collect().head
    assert(r.getLong(0) === graft.functions.SimHashUtil.simhash(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array("a", "b", "c").map(org.apache.spark.unsafe.types.UTF8String.fromString))))
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getSeq[Long](2).length === 8)
    assert(r.getSeq[Long](3).length === 8)
  }

  test("lsh_signature and repetition_counts are callable from SQL") {
    val r = spark.sql(
      """SELECT lsh_signature(array(1.0f, 0.5f), 8) AS sig0,
        |       lsh_signature(array(1.0f, 0.5f), 8, 8) AS sig1,
        |       repetition_counts(split('a b a b', ' ')) AS rc""".stripMargin)
      .collect().head
    assert(r.getInt(0) === graft.functions.LshSignatureUtil.signatureOf(
      Array(1.0f, 0.5f), 8, 0))
    assert(r.getInt(1) === graft.functions.LshSignatureUtil.signatureOf(
      Array(1.0f, 0.5f), 8, 8), "offset must select a different plane family")
    // grams of "a b a b": [a b, b a, a b] -> 3 total, 2 distinct, top 2
    val rc = r.getStruct(2)
    assert((rc.getLong(0), rc.getLong(1), rc.getLong(2), rc.getLong(3)) ===
      ((3L, 2L, 2L, 2L)))
  }

  test("SQL minhash agrees with the Column-API pipeline") {
    Tables.documents(spark, sf0001).limit(20).createOrReplaceTempView("docs_v")
    val viaSql = spark.sql(
      "SELECT doc_id, minhash_tokens(split(text, ' '), 32) AS minhash FROM docs_v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaApi = operators.Dedup.minhashSignatures(
      Tables.documents(spark, sf0001).limit(20), 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql === viaApi)
  }

  test("extensions class injects the same function set") {
    // a derived session inherits the extensions
    val s2 = spark.newSession()
    new GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions) // constructs without error
    assert(s2.sql("SELECT cosine_similarity(array(0.0f, 1.0f), array(1.0f, 0.0f)) c")
      .collect().head.getDouble(0) === 0.0)
  }
}
