package graft.expr

import graft.SparkSpec

/** Uses the shared session via GraftExtensions.register (the
  * withExtensions builder path needs a fresh JVM-wide session; register()
  * covers attaching to a live one — both install the same function set). */
class GraftExtensionsSpec extends SparkSpec {

  test("native functions are callable from SQL after registration") {
    import spark.implicits._
    GraftExtensions.register(spark)
    Seq((1L, "alpha beta gamma delta", Array(1.0f, 2.0f, 3.0f)))
      .toDF("id", "text", "emb").createOrReplaceTempView("graft_ext_docs")
    val row = spark.sql(
      """SELECT minhash_signature(text, 2, 2) AS sig,
        |       dot_product(emb, emb) AS d FROM graft_ext_docs""".stripMargin).head()
    assert(row.getSeq[String](0).length == 2)
    assert(row.getSeq[String](0).forall(_.length == 32))
    assert(row.getDouble(1) == 14.0)
    // SQL result matches the DataFrame-API formulation
    val api = Seq("alpha beta gamma delta").toDF("text")
      .select(graft.functions.DedupFunctions.minhashSignature(
        org.apache.spark.sql.functions.col("text"), 2, 2))
      .head().getSeq[String](0)
    assert(row.getSeq[String](0) == api)
    // band_math from SQL over array columns
    Seq((Array(8000f, -9999f), Array(2000f, 1000f))).toDF("B08", "B04")
      .createOrReplaceTempView("graft_ext_tiles")
    val px = spark.sql(
      """SELECT band_math('10000. * ((B08 - B04) / (B08 + B04))',
        |  -9999.0D, -10000.0D, 10000.0D,
        |  'B04', 'B08', B04, B08, -9999.0D, -9999.0D) AS p
        |FROM graft_ext_tiles""".stripMargin).head().getSeq[Float](0)
    assert(px == Seq(6000.0f, -9999.0f))
    // hash/shingle family from SQL
    val h = spark.sql(
      """SELECT simhash64(text) AS s64, simhash_md5_16(text) AS s16,
        |       word_ngrams(text, 2) AS ng FROM graft_ext_docs""".stripMargin).head()
    val apiH = Seq("alpha beta gamma delta").toDF("text").select(
      graft.functions.DedupFunctions.simhash64(org.apache.spark.sql.functions.col("text")),
      graft.functions.DedupFunctions.simhashMd5(org.apache.spark.sql.functions.col("text")),
      NativeFunctions.word_ngrams(org.apache.spark.sql.functions.col("text"), 2)).head()
    assert(h.getLong(0) == apiH.getLong(0))
    assert(h.getLong(1) == apiH.getLong(1))
    assert(h.getSeq[String](2) == apiH.getSeq[String](2))
    assert(h.getSeq[String](2) == Seq("alpha beta", "beta gamma", "gamma delta"))
    // int8 quantization from SQL (struct result, round-trips via scale)
    val q = spark.sql(
      "SELECT quantize_int8(emb) AS q FROM graft_ext_docs").head().getStruct(0)
    assert(q.getSeq[Byte](1).length == 3)
    assert(math.abs(q.getSeq[Byte](1)(2) * q.getDouble(0) - 3.0) < 3.0 / 127 + 1e-6)
    // substring-dedup digests from SQL == the native API
    val wd = spark.sql(
      "SELECT window_digests(text, 2) AS g FROM graft_ext_docs").head().getSeq[Array[Byte]](0)
    val apiWd = Seq("alpha beta gamma delta").toDF("text")
      .select(NativeFunctions.window_digests(
        org.apache.spark.sql.functions.col("text"), 2)).head().getSeq[Array[Byte]](0)
    assert(wd.length == 3 && wd.zip(apiWd).forall { case (a, b) => a.sameElements(b) })
    // bucket assignment from SQL with an array-literal boundary set
    val b = spark.sql(
      "SELECT search_sorted(CAST(2.5 AS DOUBLE), array(1.0D, 2.0D, 3.0D)) AS b")
      .head().getInt(0)
    assert(b == 2, "2.5 sits after boundaries 1.0 and 2.0")
  }

  test("register and the session extension install the same 13 functions") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    }
    new GraftExtensions().apply(ext)
    val expected = Set("minhash_signature", "dot_product", "band_math", "simhash64",
      "simhash_md5_16", "word_ngrams", "quantize_int8", "window_digests",
      "search_sorted", "canonicalize_url", "url_host", "url_match_target", "resolve_url")
    assert(injected.toSet == expected && injected.size == expected.size)
    GraftExtensions.register(spark)
    val registry = spark.sessionState.functionRegistry
    assert(expected.forall(n => registry.functionExists(FunctionIdentifier(n))))
  }
}
