package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import scala.util.Random

/** Property tests for the native codegen'd expressions: the DataFrame
  * (whole-stage-codegen) results must equal an independent driver-side
  * implementation on seeded-random inputs, and the SQL registration
  * (GraftExtensions) must resolve. */
class NativeExpressionsSpec extends SparkSuite {
  import spark.implicits._

  test("DotProduct matches a naive driver-side dot on random float vectors") {
    val rnd = new Random(7)
    val cases = Seq.fill(40) {
      val n = 1 + rnd.nextInt(48)
      (List.fill(n)(rnd.nextFloat() * 20 - 10), List.fill(n)(rnd.nextFloat() * 20 - 10))
    }
    val got = cases.toDF("a", "b")
      .select(VectorFunctions.dotProduct(col("a"), col("b"))).as[Double].collect()
    cases.zip(got).foreach { case ((a, b), g) =>
      val expected = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      assert(math.abs(g - expected) < 1e-6, s"a=$a b=$b")
    }
  }

  test("DotProduct promotes float/double combinations consistently") {
    val df = Seq((Seq(1.5f, -2f), Seq(2.0, 3.0))).toDF("f", "d")
    assert(df.select(VectorFunctions.dotProduct(col("f"), col("d"))).as[Double].head() == -3.0)
    assert(df.select(VectorFunctions.dotProduct(col("d"), col("f"))).as[Double].head() == -3.0)
  }

  test("NgramHashes emits max(m-n+1, 1) chained hashes matching XXH64 directly") {
    val rnd = new Random(11)
    val words = Vector("alpha", "beta", "g", "delta42", "x y", "")
    for (_ <- 1 to 40) {
      val toks = List.fill(1 + rnd.nextInt(12))(words(rnd.nextInt(words.length)))
      val n = 1 + rnd.nextInt(4)
      val got = Seq(Tuple1(toks)).toDF("toks")
        .select(TextFunctions.ngramHashes(col("toks"), n)).as[Seq[Long]].head()
      val m = toks.length
      val eff = math.min(n, m)
      val expected = (0 until math.max(m - n + 1, 1)).map { i =>
        (0 until eff).foldLeft(42L)((h, j) =>
          XXH64.hashUTF8String(
            org.apache.spark.unsafe.types.UTF8String.fromString(toks(i + j)), h))
      }
      assert(got == expected, s"toks=$toks n=$n")
    }
  }

  test("NgramHashes: token boundaries are hash boundaries (no concat collisions)") {
    val (h1, h2) = Seq((Seq("a b", "c"), Seq("a", "b c"))).toDF("t1", "t2")
      .select(TextFunctions.ngramHashes(col("t1"), 2),
              TextFunctions.ngramHashes(col("t2"), 2))
      .as[(Seq[Long], Seq[Long])].head()
    assert(h1 != h2, "('a b','c') must not collide with ('a','b c')")
  }

  test("null array elements: DotProduct skips them, NgramHashes hashes empty") {
    val d = spark.sql(
      "SELECT dot_product(array(1.0D, CAST(NULL AS DOUBLE), 3.0D), array(2.0D, 5.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(d == 14.0, "null slot contributes 0")
    val h = spark.sql("SELECT ngram_hashes(array('a', CAST(NULL AS STRING), 'c'), 2) AS h")
      .as[Seq[Long]].head()
    val hEmpty = spark.sql("SELECT ngram_hashes(array('a', '', 'c'), 2) AS h")
      .as[Seq[Long]].head()
    assert(h == hEmpty, "null token hashes like the empty token")
  }

  test("SQL registration: dot_product and ngram_hashes resolve via spark.sql") {
    val d = spark.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(d == 11.0)
    val h = spark.sql("SELECT ngram_hashes(array('a','b','c'), 2) AS h")
      .as[Seq[Long]].head()
    assert(h.length == 2)
  }

  test("SQL registration: rolling_hash / minhash_signature / simhash64") {
    val fp = spark.sql("SELECT rolling_hash(array('a','b')) AS fp").as[Long].head()
    val M = 562949953421231L
    val expected = {
      def hm(s: String) = {
        val h = XXH64.hashUTF8String(org.apache.spark.unsafe.types.UTF8String.fromString(s), 42L) % M
        if (h < 0) h + M else h
      }
      (hm("a") * 31 + hm("b")) % M
    }
    assert(fp == expected)
    val sig = spark.sql("SELECT minhash_signature(array(7L, 9L), 8) AS s").as[Seq[Long]].head()
    assert(sig.length == 8)
    val qz = spark.sql("SELECT quantize_i8(array(CAST(1.0 AS FLOAT), CAST(-0.5 AS FLOAT))) AS q")
      .collect()(0).getSeq[Byte](0)
    assert(qz == Seq[Byte](127, -63), s"got $qz") // floor(-63.5 + 0.5) = -63: round half UP
    val expectedSig0 = math.min(XXH64.hashInt(0, XXH64.hashLong(7L, 42L)),
                                XXH64.hashInt(0, XXH64.hashLong(9L, 42L)))
    assert(sig.head == expectedSig0)
    val sh = spark.sql("SELECT simhash64(array('x','x','y')) AS s").as[Long].head()
    // 2 votes for x's bits vs 1 for y: x's bit pattern must win every bit
    val hx = XXH64.hashUTF8String(org.apache.spark.unsafe.types.UTF8String.fromString("x"), 42L)
    assert(sh == hx, "majority token's bits dominate the signature")
  }

  test("SQL registration: char_histogram / l1_distance / count_min family") {
    val hist = spark.sql("SELECT char_histogram('ab z') AS h").as[Seq[Int]].head()
    assert(hist(1) == 1 && hist(2) == 1 && hist(26) == 1 && hist(0) == 1 && hist.sum == 4)
    val l1 = spark.sql(
      "SELECT l1_distance(char_histogram('abc'), char_histogram('abd')) AS d").as[Long].head()
    assert(l1 == 2L) // c out, d in
    val est = spark.sql(
      """SELECT count_min_query(count_min_build(x), 'a') AS e
        |FROM VALUES ('a'), ('a'), ('b') AS t(x)""".stripMargin).as[Long].head()
    assert(est == 2L)
    val merged = spark.sql(
      """WITH fine AS (
        |  SELECT g, count_min_build(x) AS cms FROM VALUES
        |    (1, 'a'), (1, 'a'), (2, 'a'), (2, 'b') AS t(g, x) GROUP BY g)
        |SELECT count_min_query(count_min_merge(cms), 'a') AS e FROM fine""".stripMargin)
      .as[Long].head()
    assert(merged == 3L, "merged grids sum the per-group counts")
  }

  test("SQL registration: media container codec family round-trips via spark.sql") {
    val img = spark.sql(
      "SELECT image_meta(image_bytes(0, 640, 480, 8, 0)).width AS w").as[Int].head()
    assert(img == 640)
    val wav = spark.sql(
      """SELECT m.sample_rate AS r, m.channels AS c, m.n_samples AS n
        |FROM (SELECT audio_meta(audio_bytes(44100, 2, 16, 100, 3)) AS m)""".stripMargin)
      .as[(Int, Int, Long)].head()
    assert(wav == ((44100, 2, 100L)))
    val mp4 = spark.sql(
      """SELECT m.format AS f, m.timescale AS t, m.duration AS d
        |FROM (SELECT video_meta(video_bytes(90000, 4500L, 5)) AS m)""".stripMargin)
      .as[(String, Int, Long)].head()
    assert(mp4 == (("mp4", 90000, 4500L)))
  }

  test("media and image kernels: interpreted and generated code give the same rows") {
    import graft.queries.TrainingData._
    val dir = java.nio.file.Files.createTempDirectory("graft-media-docs").toString
    spark.range(1, 201).select(col("id").as("doc_id"), (col("id") * 37 % 1000 + 1).as("n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    val t = graft.queries.Tables(spark, dir)
    val queries = Seq(q130ImageMeta _, q131AudioMeta _, q132VideoMeta _,
      q176AdtsMeta _, q177OggMeta _, q180FlacRoundtrip _)
    def rows(factoryMode: String, wholeStage: String): Seq[Seq[org.apache.spark.sql.Row]] = {
      val confs = Seq("spark.sql.codegen.factoryMode" -> factoryMode,
        "spark.sql.codegen.wholeStage" -> wholeStage)
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try queries.map(q => q(t).collect().toSeq)
      finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val generated = rows("CODEGEN_ONLY", "true")
    assert(generated.forall(_.length == 200))
    assert(rows("NO_CODEGEN", "false") == generated)
    assert(spark.sql("SELECT audio_meta(NULL) AS m").head().isNullAt(0))
    assert(spark.sql("SELECT image_meta(X'010203') AS m").head().isNullAt(0))
  }

  test("Sampling.pctBucket stays in [0,100) and spreads") {
    val buckets = spark.range(0, 1000)
      .select(graft.operators.Sampling.pctBucket(col("id")).as("b")).as[Long].collect()
    assert(buckets.forall(b => b >= 0 && b < 100))
    assert(buckets.distinct.length > 50, "hash should spread across buckets")
  }
}
