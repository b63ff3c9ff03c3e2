package graft

import org.apache.spark.sql.functions._

import graft.functions.fingerprintfns
import graft.operators.{Dedup, Ivf, Similarity, TextAnalysis}

/** Training-data pipeline operators: text analysis, dedup family,
  * similarity search. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
  lazy val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("tokenCount: whitespace and BPE-ish") {
    val got = Seq("one two  three", "", "   ", "don't stop!").toDF("t")
      .select(TextAnalysis.tokenCount($"t"), TextAnalysis.tokenCountBpe($"t"))
      .as[(Int, Int)].collect()
    assert(got(0) == ((3, 3)))
    assert(got(1)._1 == 0 && got(2)._1 == 0)
    assert(got(3)._1 == 2)
    assert(got(3)._2 == 4) // don | 't | _stop | !
  }

  test("langId heuristic") {
    val got = Seq(
      "the cat and the dog sat in the garden",
      "el perro y la gata en los jardines de madrid",
      "le chat et les chiens du jardin est un",
      "der hund und die katze ist ein nicht zu",
      "这 是 一个 中文 文档 的 例子",
      "xyzzy qwerty 12345").toDF("t")
      .select(TextAnalysis.langId($"t")).as[String].collect().toSeq
    assert(got == Seq("en", "es", "fr", "de", "zh", "unknown"))
  }

  test("qualityScore integer gates") {
    val good = "the quick brown fox jumps over the lazy dog near the riverbank today"
    val short = "hi"
    val got = Seq(good, short).toDF("t")
      .select(TextAnalysis.qualityScore($"t")).as[Int].collect()
    assert(got(0) == 100, s"good text scored ${got(0)}")
    assert(got(1) == 25) // only avg-word-length gate passes for "hi"
  }

  test("rolling fingerprint: deterministic, distinct, codegen path") {
    fingerprintfns.register(spark)
    val fps = docs.select(fingerprintfns.rolling_fingerprint($"text").as("fp"))
      .as[Long].collect()
    assert(fps.length == 500 && fps.toSet.size >= 499) // distinct texts → distinct fps
    val twice = docs.select(fingerprintfns.rolling_fingerprint($"text").as("fp"))
      .as[Long].collect()
    assert(fps.toSeq == twice.toSeq)
    val sql = docs.limit(5).createOrReplaceTempView("fp_docs")
    val viaSql = spark.sql("SELECT rolling_fingerprint(text) FROM fp_docs").count()
    assert(viaSql == 5)
  }

  test("shingles + jaccard") {
    val got = Seq(("abcde", "bcdef")).toDF("a", "b")
      .select(Dedup.shingles($"a", 3).as("sa"), Dedup.shingles($"b", 3).as("sb"))
      .select($"sa", $"sb", Dedup.jaccard($"sa", $"sb").as("j"))
      .as[(Seq[String], Seq[String], Double)].head()
    assert(got._1 == Seq("abc", "bcd", "cde"))
    assert(got._2 == Seq("bcd", "cde", "def"))
    assert(math.abs(got._3 - 0.5) < 1e-12) // |{bcd,cde}| / |{abc,bcd,cde,def}|
    val short = Seq("ab").toDF("a").select(Dedup.shingles($"a", 3)).as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("exact dedup finds injected duplicates") {
    val aug = docs.select($"doc_id", $"text")
      .unionByName(docs.where($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000).as("doc_id"), $"text"))
    val groups = Dedup.exact(aug, $"doc_id", $"text")
    assert(groups.where($"dup_count" >= 2).count() == 50)
    assert(groups.where($"dup_count" >= 2 && $"keep_id" >= 1000000).count() == 0)
  }

  test("minhash LSH finds near-duplicates with exact verification") {
    // light mutation: new 7-char head — jaccard stays ≥0.8, so the 16×2
    // S-curve gives P(miss) ≈ (1-0.8²)^16 ≈ 3e-8 per pair
    val aug = docs.select($"doc_id", $"text")
      .unionByName(docs.where($"doc_id" % 10 === 0).select(
        ($"doc_id" + 1000000).as("doc_id"),
        concat(lit("mutate "), expr("substring(text, 8)")).as("text")))
    val pairs = Dedup.minhashPairs(aug, $"doc_id", $"text",
      shingleK = 5, numBands = 16, rowsPerBand = 2, threshold = 0.6)
      .as[(Long, Long, Double)].collect()
    val injected = pairs.filter(p => p._2 == p._1 + 1000000)
    assert(injected.length == 50, s"found ${injected.length}/50 injected near-dups")
    assert(pairs.forall(_._3 >= 0.6)) // precision: every pair is verified
  }

  test("simhash finds near-duplicates") {
    val aug = docs.select($"doc_id", $"text")
      .unionByName(docs.where($"doc_id" % 10 === 0).select(
        ($"doc_id" + 1000000).as("doc_id"),
        concat($"text", lit(" tailword")).as("text")))
    val pairs = Dedup.simhashPairs(aug, $"doc_id", $"text", maxHamming = 7)
      .as[(Long, Long, Int)].collect()
    val injected = pairs.filter(p => p._2 == p._1 + 1000000)
    assert(injected.length >= 45, s"found ${injected.length}/50 injected near-dups")
    assert(pairs.forall(_._3 <= 7))
  }

  test("simhash multi-index banding: completeness vs naive all-pairs; 16-bit keys at maxHamming=7") {
    // maxHamming > 3 must switch to 4 × 16-bit blocks with radius probes
    // (band keys never narrow below 16 bits — the round-2 scale hazard was
    // 8-bit keys = 256 buckets/band and an O(n²/256) join at 10^9 docs)
    assert(Dedup.simhashBandPlan(3) == (4, 16, 0))
    assert(Dedup.simhashBandPlan(7) == (4, 16, 1))
    assert(Dedup.simhashBandPlan(11) == (4, 16, 2))
    assert(Dedup.simhashBandPlan(1) == (2, 32, 0))
    // probe count: C(16,0)+C(16,1) = 17 per band at radius 1
    assert(Dedup.hammingBall(0x1234L, 16, 1).length == 17)
    assert(Dedup.hammingBall(0x1234L, 16, 1).distinct.length == 17)
    assert(Dedup.hammingBall(0xffffL, 16, 2).length == 1 + 16 + 120)

    // completeness on a CLUSTERED fixture (many docs sharing simhash
    // regions): MIH pairs ≡ naive all-pairs hamming filter
    val aug = docs.limit(120).select($"doc_id", $"text")
      .unionByName(docs.limit(120).where($"doc_id" % 3 === 0).select(
        ($"doc_id" + 1000000).as("doc_id"),
        concat($"text", lit(" drift")).as("text")))
    for (h <- Seq(5, 7)) {
      val got = Dedup.simhashPairs(aug, $"doc_id", $"text", maxHamming = h)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val sigs = aug.select($"doc_id",
        Dedup.simhash64(split(trim($"text"), "\\s+")).as("sim"))
        .as[(Long, Long)].collect()
      val naive = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= h
      } yield (ia, ib)).toSet
      assert(got == naive, s"maxHamming=$h: banding lost/invented pairs")
    }

    // bucket-size gate: on this fixture no (band, key) exact-bucket may
    // hold a macroscopic fraction of the corpus (the 8-bit scheme packed
    // ~n/256 unrelated docs per bucket; 16-bit keys keep buckets tiny)
    val hashed = aug.select($"doc_id".as("id"),
      Dedup.simhash64(split(trim($"text"), "\\s+")).as("sim"))
    val (exact, probes) = Dedup.simhashBanded(hashed, 7)
    val n = aug.count()
    val maxBucket = exact.groupBy("band", "key").count()
      .agg(max("count")).as[Long].head()
    assert(maxBucket <= math.max(4L, n / 20),
      s"hot exact bucket: $maxBucket of $n docs")
    // probe fan-out is exactly 17 keys per (row, band)
    assert(probes.count() == exact.count() * 17)
  }

  test("cosine codegen expression ≡ higher-order columnar form, bit-exact") {
    val pairs = embs.as("a").join(embs.as("b"),
      $"a.vec_id" =!= $"b.vec_id" && $"a.vec_id" < 30 && $"b.vec_id" < 30)
    val both = pairs.select(
      Similarity.cosine($"a.embedding", $"b.embedding").as("cg"),
      Similarity.cosineColumnar($"a.embedding", $"b.embedding").as("ho"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty && both.forall { case (cg, ho) =>
      java.lang.Double.doubleToRawLongBits(cg) == java.lang.Double.doubleToRawLongBits(ho)
    }, "codegen cosine diverged from the columnar fold")
    // SQL registration
    graft.functions.vectorfns.register(spark)
    embs.limit(3).createOrReplaceTempView("cos_t")
    assert(spark.sql(
      "SELECT cosine_sim(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>)) FROM cos_t")
      .as[Double].collect().forall(v => math.abs(v - 1.0) < 1e-12))
    // type check: raw array<float> must be an analysis error, not garbage
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cosine_sim(embedding, embedding) FROM cos_t").collect()
    }
  }

  test("resolveKeepers: min-id keeper per component; divergence detected") {
    // two clusters + a chain: {1,2,3} via (1,2),(2,3); {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.resolveKeepers(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // a chain longer than maxIters must throw, not return inconsistent labels
    val chain = (0L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.resolveKeepers(chain, maxIters = 3)
    }
    // ... and converge with enough iterations
    val ok = Dedup.resolveKeepers(chain, maxIters = 15).as[(Long, Long)].collect()
    assert(ok.forall(_._2 == 0L) && ok.length == 11)
  }

  test("brute-force cosine top-k: exact copy is rank 1") {
    val aug = embs.unionByName(embs.where($"vec_id" < 5).select(
      ($"vec_id" + 1000000).as("vec_id"), $"embedding", $"label"))
    val queries = aug.where($"vec_id" >= 1000000)
    val top = Similarity.bruteForceTopK(aug, queries, 3)
      .where($"rank" === 1).select($"qid", $"id").as[(Long, Long)].collect().toMap
    (0L until 5L).foreach { q =>
      assert(top(q + 1000000) == q, s"top-1 of copy $q should be the original")
    }
  }

  test("degenerate embeddings: zero-norm, null, and short vectors never rank or crash") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val bad = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(9000001L, Seq.fill(64)(0.0f)),          // zero norm → cosine NaN
        Row(9000002L, null),                        // failed upstream embed
        Row(9000003L, Seq.fill(32)(0.5f))),         // wrong dimension
      schema)
    val corpus = embs.select("vec_id", "embedding").unionByName(bad)
    val queries = embs.where($"vec_id" < 5)
    // Spark orders NaN ABOVE every double: an unguarded zero vector would
    // be rank-1 for every query; ANSI element_at on the short vector would
    // kill the LSH job outright
    val brute = Similarity.bruteForceTopK(corpus, queries, 3)
      .select("id").as[Long].collect().toSet
    // brute force has no dim contract (CosineSim scores the overlapping
    // prefix of a short vector) — it guards NaN/null only
    assert(brute.intersect(Set(9000001L, 9000002L)).isEmpty,
      s"NaN/null row ranked in brute force: $brute")
    val ann = Similarity.lshTopK(corpus, queries, 3, dim = 64, numPlanes = 6)
      .select("id").as[Long].collect().toSet
    val model = Ivf.train(corpus, dim = 64, k = 4, iters = 1)
    val ivf = Ivf.topK(corpus, queries, model, k = 3, nProbe = 2)
      .select("id").as[Long].collect().toSet
    Seq(ann, ivf).foreach(ids =>
      assert(ids.intersect(Set(9000001L, 9000002L, 9000003L)).isEmpty,
        s"degenerate row ranked: $ids"))
  }

  test("degenerate QUERIES: null/zero-norm/short query rows drop, not rank on NaN") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val badQ = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(9100001L, Seq.fill(64)(0.0f)), // zero norm → every cosine NaN
        Row(9100002L, null),               // failed upstream embed
        Row(9100003L, Seq.fill(32)(0.5f))),// truncated vector
      schema)
    val corpus = embs.select("vec_id", "embedding")
    val queries = corpus.where($"vec_id" < 2).unionByName(badQ)
    // a zero-norm query ranks k ARBITRARY rows first (NaN sorts above all
    // reals); a null/short one NPEs or misindexes in the probe UDFs
    val brute = Similarity.bruteForceTopK(corpus, queries, 3, dim = Some(64))
    val lsh = Similarity.lshTopK(corpus, queries, 3, dim = 64, numPlanes = 6)
    val model = Ivf.train(corpus, dim = 64, k = 4, iters = 1)
    val ivf = Ivf.topK(corpus, queries, model, k = 3, nProbe = 2)
    Seq("brute" -> brute, "lsh" -> lsh, "ivf" -> ivf).foreach { case (n, df) =>
      val qids = df.select("qid").as[Long].collect().toSet
      assert(qids == Set(0L, 1L), s"$n: degenerate query ranked: $qids")
    }
  }

  test("simhash: empty/whitespace-only docs form no pairs (no shared hot bucket)") {
    // split("") is Seq("") — not Python's [] — so without a guard every
    // failed-extraction row hashes to ONE identical simhash and the band
    // join emits all m(m-1)/2 pairs of the empty cluster
    val docs = (Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again")) ++
      (10L to 15L).map(i => (i, if (i % 2 == 0) "" else "   \t \n "))).toDF("id", "text")
    val pairs = Dedup.simhashPairs(docs, $"id", $"text", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)),
      s"empty docs must pair with nothing, got $pairs")
  }

  test("shinglesArray UDF ≡ shingles column form (q22 verify-stage witness)") {
    // minhashPairs now verifies with the plain-sweep UDF; this pins the
    // claimed contents-and-order identity against the column form on the
    // real corpus plus the edge shapes (short / exactly-k / repeated)
    val texts = docs.select($"text").as[String].collect().take(300).toSeq ++
      Seq("", "abcd", "abcde", "aaaaaaaaaa", "ababababab", null)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val fromCol = df.select($"id", Dedup.shingles($"t", 5).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val arr = Dedup.shinglesArray(t, 5).toSeq
      if (t == null) assert(arr.isEmpty) // column form yields null row value
      else assert(arr == fromCol(i.toLong), s"text #$i")
    }
  }

  test("shinglesArray windows by code point, like the column form, on astral-plane text") {
    // U+1F600 and U+10400 are one code point and two UTF-16 units each:
    // Spark's length/substr count the former, so must the sweep
    val texts = Seq("😀abc😀abc", "ab𐐀cd𐐀",
      "😀😀😀", "😀😀x", "😀")
    val fromCol = texts.toDF("t").select(Dedup.shingles($"t", 3).as("sh"))
      .as[Seq[String]].collect().toSeq
    texts.zip(fromCol).foreach { case (t, col) =>
      val arr = Dedup.shinglesArray(t, 3).toSeq
      assert(arr == col, s"text ${t.codePoints().toArray.mkString(",")}")
      assert(arr.forall(s => s.codePointCount(0, s.length) == 3), "whole code points only")
    }
    assert(Dedup.shinglesArray("😀😀x", 3).toSeq ==
      Seq("😀😀x"))
  }

  test("signKey UDF ≡ signBitsRange column form (q25 bucket-key equality witness)") {
    // lshTopK now derives bucket keys via the signKey fold (round-6: the
    // unrolled 768-term column tree dominated q25's plan/codegen cost);
    // this witness pins the bit-identity claim on the real embeddings
    // PLUS the degenerate shapes (short vector → 0L like the null-proj
    // column path)
    val fromCol = embs
      .select($"vec_id",
        Similarity.signBits($"embedding", dim = 64, numPlanes = 12).as("key"))
      .as[(Long, Long)].collect().toMap
    val vecs = embs
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    vecs.foreach { case (id, v) =>
      assert(Similarity.signKey(v, 64, 0, 12) == fromCol(id), s"vec $id")
    }
    assert(Similarity.signKey(null, 64, 0, 12) == 0L)
    assert(Similarity.signKey(Seq.fill(32)(0.5), 64, 0, 12) == 0L)
  }

  test("LSH ANN recall vs brute force") {
    val queries = embs.where($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(embs, queries, 5)
      .select($"qid", $"id").as[(Long, Long)].collect().toSet
    val ann = Similarity.lshTopK(embs, queries, 5, dim = 64, numPlanes = 6)
      .select($"qid", $"id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ann).size.toDouble / brute.size
    assert(recall >= 0.4, s"ANN recall $recall too low") // multi-probe hamming-1
    assert(ann.size <= 50)
  }

  test("IVF ANN: deterministic training, recall vs brute force") {
    val queries = embs.where($"vec_id" < 10)
    val model = Ivf.train(embs, dim = 64, k = 8, iters = 3)
    val model2 = Ivf.train(embs, dim = 64, k = 8, iters = 3)
    assert(model.centroids.map(_.toSeq).toSeq == model2.centroids.map(_.toSeq).toSeq)
    val brute = Similarity.bruteForceTopK(embs, queries, 5)
      .select($"qid", $"id").as[(Long, Long)].collect().toSet
    val ivf = Ivf.topK(embs, queries, model, 5, nProbe = 3)
      .select($"qid", $"id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
    assert(ivf.size <= 50)
  }

  test("embedding near-dup pairs: exact copies at 0.999") {
    val aug = embs.unionByName(embs.where($"vec_id" < 20).select(
      ($"vec_id" + 1000000).as("vec_id"), $"embedding", $"label"))
    val pairs = Dedup.embeddingPairs(aug, $"vec_id", $"embedding",
      dim = 64, numBands = 16, bandPlanes = 4, threshold = 0.999)
      .as[(Long, Long, Double)].collect()
    val injected = pairs.filter(p => p._2 == p._1 + 1000000)
    assert(injected.length == 20, s"found ${injected.length}/20 exact-copy pairs")
  }

  test("embedding near-dup: multi-band recall vs brute force at threshold 0.95") {
    // perturbed near-copies (NOT exact): x -> x*0.995 + 0.002 keeps cosine
    // just under 1.0; single-band sign-LSH missed these structurally
    val perturbed = embs.where($"vec_id" < 40).select(
      ($"vec_id" + 1000000).as("vec_id"),
      transform($"embedding".cast("array<double>"), x => x * lit(0.995) + lit(0.002))
        .as("embedding"), $"label")
    val aug = embs.select($"vec_id", $"embedding".cast("array<double>").as("embedding"), $"label")
      .unionByName(perturbed)
    // ground truth: every (base, base+1e6) pair with true cosine >= 0.95
    val truth = Similarity.bruteForceTopK(aug, aug.where($"vec_id" >= 1000000), 1)
      .where($"rank" === 1 && $"id" === $"qid" - 1000000 && $"cos" >= 0.95)
      .select($"id", $"qid").as[(Long, Long)].collect().toSet
    assert(truth.size >= 30, s"fixture sanity: ${truth.size} near-copies above 0.95")
    val found = Dedup.embeddingPairs(aug, $"vec_id", $"embedding",
      dim = 64, numBands = 16, bandPlanes = 4, threshold = 0.95)
      .where($"id_b" === $"id_a" + 1000000)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val recall = (truth intersect found).size.toDouble / truth.size
    assert(recall == 1.0, s"multi-band recall $recall < 1.0 on ${truth.size} pairs")
  }

  test("ANN shuffled-query variant ≡ broadcast variant (LSH and IVF)") {
    val queries = embs.where($"vec_id" < 10)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"id", $"rank").as[(Long, Long, Int)].collect().toSet
    val lshB = norm(Similarity.lshTopK(embs, queries, 5, dim = 64, numPlanes = 6))
    val lshS = norm(Similarity.lshTopK(embs, queries, 5, dim = 64, numPlanes = 6,
      broadcastQueries = false))
    assert(lshB == lshS, "shuffled LSH join changed results")
    val model = Ivf.train(embs, dim = 64, k = 8, iters = 3)
    val ivfB = norm(Ivf.topK(embs, queries, model, 5, nProbe = 3))
    val ivfS = norm(Ivf.topK(embs, queries, model, 5, nProbe = 3,
      broadcastQueries = false))
    assert(ivfB == ivfS, "shuffled IVF join changed results")
  }
}
