package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dedup_exact: identical texts collapse to one keeper") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "something else entirely here")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("dedup_fixture")
    val out = docs
      .selectExpr("doc_id",
        graft.functions.TextAnalysis.hex60("text") + " AS h")
      .groupBy("h").agg(min("doc_id").as("keep"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out(1L) === 2L) // doc 1 kept, covers docs 1+2
    assert(out(3L) === 1L)
  }

  test("minhash LSH finds the planted near-dup pairs (matches exact jaccard)") {
    val lsh = Dedup.minhashLsh(spark, sf)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(lsh.nonEmpty, "expected planted near-dups at sf0.001")
    // every LSH pair must be verified ≥0.8 by construction; cross-check a
    // known property: pairs are distinct and ordered
    lsh.foreach { case (a, b) => assert(a < b) }
  }

  test("dedup_substring_spans: engine output equals a brute-force " +
      "single-machine recomputation") {
    val L = 40
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val byGram = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Set[Long]]
    for ((id, txt) <- docs if txt.length >= L; i <- 0 to txt.length - L)
      byGram.getOrElseUpdate(txt.substring(i, i + L),
        scala.collection.mutable.Set.empty) += id
    val expected = docs.flatMap { case (id, txt) =>
      if (txt.length < L) None
      else {
        val dupPos = (0 to txt.length - L).filter { i =>
          byGram(txt.substring(i, i + L)).size > 1
        }
        if (dupPos.isEmpty) None
        else {
          // merge consecutive positions into maximal runs
          val runs = dupPos.tail.foldLeft(List(List(dupPos.head))) {
            case (acc @ cur :: rest, p) =>
              if (p == cur.head + 1) (p :: cur) :: rest
              else List(p) :: acc
            case (Nil, p) => List(List(p))
          }.map(_.length)
          Some((id, runs.length.toLong,
            (runs.sum + (L - 1) * runs.length).toLong,
            (runs.max + L - 1).toLong))
        }
      }
    }.sortBy(_._1).toSeq
    val got = Dedup.substringSpans(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty, "expected cross-doc duplicated 40-char spans")
    assert(got === expected)

    // the removal pass: clean_text must equal the text minus every
    // position covered by a duplicated 40-gram window
    val expectedClean = docs.map { case (id, txt) =>
      val covered = Array.fill(txt.length)(false)
      if (txt.length >= L)
        for (i <- 0 to txt.length - L
             if byGram(txt.substring(i, i + L)).size > 1;
             j <- i until i + L) covered(j) = true
      val clean = txt.iterator.zipWithIndex
        .collect { case (c, i) if !covered(i) => c }.mkString
      (id, clean, (txt.length - clean.length).toLong)
    }.sortBy(_._1).toSeq
    val gotClean = Dedup.substringClean(spark, sf)
      .as[(Long, String, Long)].collect().toSeq
    assert(gotClean === expectedClean)
    assert(gotClean.exists(_._3 > 0), "removal pass removed nothing")
  }

  test("dedup_line_level: untouched docs round-trip; chunk accounting " +
      "is exact; the corpus has real cross-doc chunk dups") {
    val out = Dedup.lineLevel(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    var dropped = 0L
    out.foreach { r =>
      val (id, clean) = (r.getLong(0), r.getString(1))
      val (kept, drop) = (r.getLong(2), r.getLong(3))
      dropped += drop
      // chunk count must tile the token count exactly
      val nTok = docs(id).split(' ').length
      assert(kept + drop === (nTok - 1) / 16 + 1)
      if (drop == 0L) assert(clean === docs(id),
        s"doc $id lost no chunks but text changed")
      else assert(clean.length < docs(id).length)
    }
    assert(dropped > 0L,
      "sf0.001 plants cross-doc duplicate chunks; none were dropped")
  }

  test("text_boilerplate_lines: removes ALL occurrences of >=3-doc " +
      "chunks (strictly more than line-level drops for them); " +
      "accounting tiles the token count") {
    val out = graft.functions.TextAnalysis.boilerplateLines(spark, sf)
      .collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    var removed = 0L
    out.foreach { r =>
      val (id, clean) = (r.getLong(0), r.getString(1))
      val (kept, drop) = (r.getLong(2), r.getLong(3))
      removed += drop
      val nTok = docs(id).split(' ').length
      assert(kept + drop === (nTok - 1) / 16 + 1)
      if (drop == 0L) assert(clean === docs(id))
      else assert(clean.length < docs(id).length)
    }
    assert(removed > 0L, "no >=3-doc boilerplate chunk found at sf0.001")
    // boilerplate removes every occurrence, line-level keeps the first:
    // so for the >=3-doc chunk population, boilerplate must remove
    // strictly more occurrences than line-level's drop count for them
    val chunkOf = (text: String) => text.split(' ').grouped(16)
      .map(_.mkString(" ")).toSeq
    val freq = docs.toSeq.flatMap { case (id, t) =>
      chunkOf(t).distinct.map(_ -> id)
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val expectRemoved = docs.toSeq.map { case (_, t) =>
      chunkOf(t).count(c => freq(c) >= 3)
    }.sum
    assert(removed === expectRemoved,
      "removed-chunk accounting disagrees with an independent recount")
  }

  test("decontam_span_clean: matches a brute-force span reconstruction " +
      "and only train docs appear") {
    val out = Dedup.decontamSpanClean(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val L = 20
    val bench = docs.filter(_._1 < 20).values
      .flatMap(t => t.sliding(L).filter(_.length == L)).toSet
    assert(out.map(_.getLong(0)).toSet === docs.keySet.filter(_ >= 20))
    var totalRemoved = 0L
    out.foreach { r =>
      val (id, clean, removed) =
        (r.getLong(0), r.getString(1), r.getLong(2))
      val text = docs(id)
      // brute force: cover [p, p+L-1] for every position whose L-gram
      // is a benchmark gram; clean = uncovered chars in order
      val covered = new Array[Boolean](text.length)
      text.sliding(L).zipWithIndex.foreach { case (g, p) =>
        if (g.length == L && bench(g))
          (p until p + L).foreach(covered(_) = true)
      }
      val expect = text.iterator.zipWithIndex
        .collect { case (c, i) if !covered(i) => c }.mkString
      assert(clean === expect, s"doc $id span removal mismatch")
      assert(removed === text.length - expect.length)
      totalRemoved += removed
    }
    assert(totalRemoved > 0L,
      "sf0.001 benchmark shares no 20-char span with any train doc")
  }

  test("text_rank_keywords: matches an independent single-machine " +
      "reimplementation of the integer iteration exactly") {
    val out = graft.functions.TextAnalysis.textRankKeywords(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.length === 15)
    assert(out.map(_._2).sameElements(out.map(_._2).sorted.reverse))
    assert(out.forall(_._2 >= 150000L)) // damping floor
    // tiny-graph reimplementation: same edges, same µ-unit arithmetic
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").as[String].collect().map(_.split(' '))
    val edges = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    toks.foreach(_.sliding(2).foreach { p =>
      if (p.length == 2) {
        edges((p(0), p(1))) += 1L; edges((p(1), p(0))) += 1L
      }
    })
    val ow = edges.toSeq.groupBy(_._1._1)
      .view.mapValues(_.map(_._2).sum).toMap
    var rank = ow.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map[String, Long]()
        .withDefaultValue(0L)
      edges.foreach { case ((src, dst), c) =>
        contrib(dst) += rank(src) * c / ow(src)
      }
      rank = contrib.map { case (t, s) => t -> (150000L + 17L * s / 20L) }
        .toMap
    }
    val expect = rank.toSeq.sortBy { case (t, r) => (-r, t) }.take(15)
    assert(out.toSeq === expect,
      "distributed TextRank differs from the reference reimplementation")
  }

  test("embedding_outlier_cells: per-cell decile accounting is exact " +
      "and outliers are the farthest-from-centroid vectors") {
    val out = Similarity.embeddingOutlierCells(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getBoolean(3)))
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(out.length.toLong === total, "every vector must be assigned")
    out.groupBy(_._2).foreach { case (cell, vs) =>
      val flagged = vs.filter(_._4)
      assert(flagged.length === vs.length / 10,
        s"cell $cell: integer decile gate miscounted")
      if (flagged.nonEmpty) {
        // every outlier is at most as close to the centroid as every
        // kept vector (ties break deterministically by vec_id)
        val maxOut = flagged.map(_._3).max
        val minKept = vs.filterNot(_._4).map(_._3).min
        assert(maxOut <= minKept,
          s"cell $cell: an outlier is closer than a kept vector")
      }
    }
  }

  test("knn_graph_cells: per-node top-3 agrees with a direct recount " +
      "of the cell-bounded pair list") {
    val out = Similarity.knnGraphCells(spark, sf).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq)
      .toMap
    val pairs = Similarity.cellPairsRaw(8, -1.1)(spark, sf)
      .select("v1", "v2", "cos_sim").as[(Long, Long, Double)].collect()
    val byNode = (pairs.map { case (a, b, c) => (a, (b, c)) } ++
      pairs.map { case (a, b, c) => (b, (a, c)) })
      .groupBy(_._1)
      .view.mapValues(_.map(_._2).sortBy { case (id, c) => (-c, id) }
        .take(3).map(_._1).toSeq)
      .toMap
    assert(out.keySet === byNode.keySet)
    out.foreach { case (node, nbrs) =>
      assert(nbrs === byNode(node), s"node $node neighbour list differs")
      assert(nbrs.size <= 3 && !nbrs.contains(node))
    }
    assert(out.valuesIterator.count(_.size == 3) > 0)
  }

  test("ann_int8_topk: quantized top-5 overlaps exact top-5 on >= 3 of 5") {
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = sets(Similarity.annBruteTopk(spark, sf))
    val quant = sets(Similarity.annInt8Topk(spark, sf))
    assert(quant.keySet === exact.keySet)
    exact.foreach { case (q, ex) =>
      val ov = (ex & quant(q)).size
      assert(ov >= 3, s"query $q: int8 overlap $ov < 3 of 5")
    }
  }

  test("kmeans: clusters partition the corpus and Lloyd inertia is " +
      "non-increasing in the iteration count") {
    val corpus = graft.sources.Tables.t(spark, sf, "embeddings").count()
    def run(iters: Int) = {
      val rows = Similarity.kmeansAt(iters)(spark, sf).collect()
      (rows.map(_.getLong(1)).sum, rows.map(_.getDouble(2)).sum)
    }
    val (n1, i1) = run(1)
    val (n3, i3) = run(3)
    println(s"[kmeans-probe] corpus=$corpus n1=$n1 i1=$i1 n3=$n3 i3=$i3")
    assert(n1 === corpus && n3 === corpus,
      "every vector must land in exactly one cluster")
    // Lloyd: each assign+update cycle cannot increase total inertia
    // (both measured post-final-assignment, so the comparison is fair)
    assert(i3 <= i1 + 1e-6, s"inertia rose with more iterations: $i1 -> $i3")
  }

  test("ann_pq_adc: ranks well-formed, ADC non-decreasing, top-5 " +
      "overlaps exact top-5") {
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val out = Similarity.annPqAdc(spark, sf).collect()
    out.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq === (1L to 5L),
        s"query $q ranks")
      val ds = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b },
        s"query $q ADC distance not non-decreasing: ${ds.toSeq}")
    }
    // truth for the overlap check is exact squared-L2 top-5 — the
    // metric PQ-ADC actually approximates (the cosine brute baseline
    // ranks differently when norms vary)
    val v = graft.sources.Tables.t(spark, sf, "embeddings")
      .selectExpr("vec_id", "embedding",
        "graft_dot(embedding, embedding) AS xx")
    val q = v.filter(col("vec_id") < 10)
      .selectExpr("vec_id AS q_id", "embedding AS qe", "xx AS qq")
    val c = v.filter(col("vec_id") >= 10)
      .selectExpr("vec_id AS c_id", "embedding AS ce", "xx AS cc")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("d2").asc, col("c_id").asc)
    val exact = sets(c.join(broadcast(q))
      .selectExpr("q_id", "c_id",
        "cc - 2 * graft_dot(ce, qe) + qq AS d2")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5))
    val pq = sets(Similarity.annPqAdc(spark, sf))
    assert(pq.keySet === exact.keySet)
    val overlaps = exact.map { case (qid, ex) => qid -> (ex & pq(qid)).size }
    println(s"[pq-probe] overlaps=${overlaps.toSeq.sortBy(_._1)}")
    // 64x-compressed codes cannot be exact; require signal well above
    // chance (5 random picks from a 490-vector corpus ~ overlap 0)
    assert(overlaps.values.sum >= overlaps.size,
      s"mean PQ overlap under 1 of 5: $overlaps")
  }

  test("ann_ivf_multiprobe_recall: recall is monotone in probe depth and " +
      "the P=1 row equals single-probe IVF vs brute truth") {
    val rows = Similarity.annIvfMultiprobeRecall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(rows.forall(_._3 === 30L), s"denominator must be |truth|: $rows")
    assert(rows.sliding(2).forall { case Array(a, b) => a._2 <= b._2 },
      s"hits must be non-decreasing in probe depth: ${rows.toSeq}")
    // cross-validate three operators: the P=1 candidate cell IS the
    // single-probe op's cell, so hits(P=1) must equal
    // |annIvfCentroidTopk top-3 ∩ exact brute top-3|
    def top3(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("rank") <= 3).select("q_id", "c_id")
        .as[(Long, Long)].collect().toSet
    val single = top3(Similarity.annIvfCentroidTopk(spark, sf))
    val brute = top3(Similarity.annBruteTopk(spark, sf))
    assert(rows.head._2 === (single & brute).size.toLong,
      s"P=1 hits ${rows.head._2} != |single-probe ∩ brute| ${(single & brute).size}")
  }

  test("dedup_semantic_keep: one keeper per cluster, pairs co-clustered") {
    val out = Similarity.dedupSemanticKeep(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // exactly one kept member per cluster_rep, and it IS the rep
    out.values.groupBy(_._1).foreach { case (rep, members) =>
      assert(members.count(_._2) === 1, s"cluster $rep")
    }
    out.foreach { case (id, (rep, kept)) =>
      assert(kept === (id == rep))
      assert(rep <= id) // rep is the component minimum
    }
    // every cosine-neardup pair must land in the same cluster
    Similarity.cosineNeardup(spark, sf)
      .select("v1", "v2").as[(Long, Long)].collect()
      .foreach { case (a, b) =>
        assert(out(a)._1 === out(b)._1, s"pair ($a,$b) split")
      }
    // and something actually deduplicated at this threshold
    assert(out.values.exists(!_._2))
  }

  test("text_quality_classifier: keep is consistent with the probability") {
    val rows = graft.functions.TextAnalysis.qualityClassifier(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, keep) = (r.getDouble(1), r.getBoolean(2))
      assert(p > 0.0 && p < 1.0)
      // keep ⇔ z ≥ 0 ⇔ p ≥ 0.5 (p is rounded to 6 dp, so compare lax)
      assert(keep === (p >= 0.4999995), s"doc ${r.getLong(0)}: p=$p")
    }
    assert(rows.exists(_.getBoolean(2)) && rows.exists(!_.getBoolean(2)),
      "classifier should separate the corpus at this operating point")
  }

  test("two-stage rerank reproduces the exact brute-force top-5") {
    val exact = Similarity.annBruteTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val staged = Similarity.annTwoStageRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(staged.toSeq === exact.toSeq,
      "depth-50 shortlist failed to recover the exact ranking")
  }

  test("two-stage rerank shortlist margin: first dropped candidate ranks " +
      "well below the exact top-5") {
    // ADVICE round-5: the rerank shares the brute-force oracle, so its
    // exactness rests on the depth-50 int8 shortlist containing every
    // exact-top-5 member. Measure the MARGIN (min exact rank among
    // dropped candidates) so a corpus regeneration that erodes it fails
    // here with a diagnosable message, not as a bare row mismatch.
    val v = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding",
        "sqrt(graft_dot(embedding, embedding)) AS nrm")
    val q = v.filter(col("vec_id") < 10)
      .selectExpr("vec_id AS q_id", "embedding AS qe", "nrm AS qn")
    val c = v.filter(col("vec_id") >= 10)
      .selectExpr("vec_id AS c_id", "embedding AS ce", "nrm AS cn")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("c_id").asc)
    val exactRank = c.join(broadcast(q))
      .selectExpr("q_id", "c_id", "graft_dot(qe, ce) / (qn * cn) AS cos")
      .withColumn("xrank", row_number().over(w))
      .select("q_id", "c_id", "xrank")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    val kept = Similarity.int8Shortlist(50)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    var worstMargin = Int.MaxValue
    exactRank.keys.groupBy(_._1).foreach { case (qid, keys) =>
      val dropped = keys.filterNot(kept).map(exactRank)
      val margin = if (dropped.isEmpty) Int.MaxValue else dropped.min
      worstMargin = math.min(worstMargin, margin)
      assert(margin > 5, s"query $qid: a candidate at exact rank $margin" +
        " was dropped by the depth-50 int8 shortlist — the rerank no" +
        " longer recovers the exact top-5 (corpus drift?)")
    }
    info(s"worst shortlist-recall margin across queries: $worstMargin" +
      " (first dropped candidate's exact rank; must stay > 5)")
    assert(worstMargin > 10,
      s"margin $worstMargin is thinner than 2x the rerank k — the" +
        " depth-50 claim is nearly exhausted on this corpus")
  }

  test("scaled semantic dedup: cell edges are sound and clusters refine " +
      "the exact clusters") {
    // soundness: every cell-bounded pair is an exact-baseline pair with
    // the identical rounded score (the cell stage only PRUNES)
    val exactPairs = Similarity.cosineNeardupBlocked(1)(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val cellPairs = Similarity.cosineNeardupCells(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3))
    assert(cellPairs.nonEmpty, "expected within-cell near-dup pairs")
    cellPairs.foreach { case (k, s) =>
      assert(exactPairs.get(k) === Some(s),
        s"pair $k not in (or disagrees with) the exact baseline")
    }
    // refinement: scaled edges ⊆ exact edges, so every scaled cluster
    // must sit inside exactly one exact cluster (the SemDeDup trade:
    // cross-cell dups survive, but no false merge is ever introduced)
    val exactRep = Similarity.dedupSemanticKeep(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scaled = Similarity.dedupSemanticScaled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(scaled.map(_._1).toSet === exactRep.keySet)
    scaled.groupBy(_._2).foreach { case (rep, members) =>
      val exactReps = members.map(m => exactRep(m._1)).toSet
      assert(exactReps.size === 1,
        s"scaled cluster $rep spans exact clusters $exactReps")
      assert(members.count(_._3) === 1, s"cluster $rep keeper count")
      assert(members.map(_._1).min === rep, s"cluster $rep rep not min")
    }
  }

  test("graft_sq8/graft_idot equal the HOF quantize/fold on real vectors") {
    val both = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id",
        "graft_sq8(embedding) AS kq",
        """transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) /
             array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE))))
             * 127) AS INT)) AS hq""")
      .selectExpr("vec_id", "kq", "hq",
        "graft_idot(kq, kq) AS kdot",
        """aggregate(zip_with(hq, hq, (x, y) -> CAST(x AS BIGINT) * y),
           CAST(0 AS BIGINT), (a, v) -> a + v) AS hdot""")
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Int](1) === r.getSeq[Int](2),
        s"vec ${r.getLong(0)}: kernel codes != HOF codes")
      assert(r.getLong(3) === r.getLong(4))
    }
  }

  test("dedup operators drop their intermediate caches (no library leak)") {
    // minhashLsh/simhashPairs persist shared stages and must unpersist
    // them after the eager checkpoint — a caller invoking the operators
    // repeatedly must not accumulate cached RDDs (round-2 fix; the
    // harness's clearCache() between queries must not be load-bearing)
    def cachedCount: Int =
      spark.sparkContext.getPersistentRDDs.size
    val before = cachedCount
    Dedup.minhashLsh(spark, sf).count()
    Dedup.simhashPairs(spark, sf).count()
    // localCheckpoint blocks are intentional (they ARE the results and
    // are reclaimed by GC/session teardown); persisted MEMORY_AND_DISK
    // intermediates from the operators themselves must all be gone.
    // Checkpointed RDDs register as persistent too, so allow exactly
    // the two checkpoint results and nothing else.
    assert(cachedCount <= before + 2,
      s"dedup operators leaked cached stages: $before -> $cachedCount")
  }

  test("simhash of identical texts is identical; pairs report hamming 0") {
    val sh = Dedup.simhash(spark, sf).as[(Long, Long)].collect().toMap
    assert(sh.size === 500)
    // deterministic: recompute equals first run
    val sh2 = Dedup.simhash(spark, sf).as[(Long, Long)].collect().toMap
    assert(sh === sh2)
  }

  test("cosine similarity: self-similarity is 1, orthogonal is 0") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(2.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val dot =
      """aggregate(zip_with(e1, e2, (x, y) ->
         CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
         CAST(0 AS DOUBLE), (acc, v) -> acc + v)"""
    val a = vecs.selectExpr("vec_id AS v1", "embedding AS e1")
    val b = vecs.selectExpr("vec_id AS v2", "embedding AS e2")
    val cos = a.crossJoin(b)
      .selectExpr("v1", "v2",
        s"""$dot / (sqrt(aggregate(zip_with(e1, e1, (x, y) ->
            CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE),
            (acc, v) -> acc + v)) *
            sqrt(aggregate(zip_with(e2, e2, (x, y) ->
            CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE),
            (acc, v) -> acc + v))) AS c""")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(math.abs(cos((1L, 1L)) - 1.0) < 1e-12)
    assert(math.abs(cos((1L, 2L))) < 1e-12)
    assert(math.abs(cos((1L, 3L)) - 1.0) < 1e-12) // scale-invariant
  }

  test("incremental LSH equals the self-join LSH on cross-side pairs") {
    val inc = Dedup.dedupIncrementalLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (d1, d2, _) => (d1 % 5 == 0) != (d2 % 5 == 0) }
      .map { case (d1, d2, j) =>
        if (d1 % 5 == 0) (d1, d2, j) else (d2, d1, j) }
      .toSet
    assert(inc === full)
  }

  test("integer µ-unit rounding is half-up-away-from-zero, ties included") {
    // the exact tie that diverged Spark vs DuckDB at sf0.1: sum 0.616992
    // over n=192 is exactly 0.0032135 → must round UP to 0.003214; the
    // negated sum must round to -0.003214 (away from zero)
    val r = spark.sql(
      """SELECT
           CAST(CASE WHEN m >= 0
             THEN (2 * m + n) div (2 * n)
             ELSE -((2 * (-m) + n) div (2 * n)) END AS DOUBLE) / 1e6 AS up,
           CAST(CASE WHEN -m >= 0
             THEN (2 * (-m) + n) div (2 * n)
             ELSE -((2 * m + n) div (2 * n)) END AS DOUBLE) / 1e6 AS dn
         FROM (SELECT CAST(616992 AS BIGINT) AS m,
                      CAST(192 AS BIGINT) AS n)""").head()
    assert(r.getDouble(0) === 0.003214)
    assert(r.getDouble(1) === -0.003214)
  }

  test("CC converges in O(log n) rounds on an adversarial long chain") {
    // The regression that forced the hook-and-contract rewrite: a chain
    // whose ids alternate high/low so the component minimum is many
    // GRAPH hops from most nodes. Plain min-label propagation (even
    // with label-path compression) needs O(diameter) rounds here and
    // blew the old 20-round guard on the sf0.1 mutual-kNN graph; the
    // contraction kernel must label it in its round budget. Chain:
    // 100-0-101-1-102-2-… (120 nodes, diameter 119, the minimum id
    // sits ~117 hops from the far end) plus a separate triangle to
    // check component isolation.
    val n = 60L
    val chainIds = (0L until n).flatMap(i => Seq(100 + i, i))
    val chain = chainIds.zip(chainIds.tail)
    val tri = Seq((500L, 501L), (501L, 502L), (500L, 502L))
    val edges = (chain ++ tri).toDF("d1", "d2")
    // the contraction kernel lives on the DENSE path now (the sparse
    // path is a one-task union-find); exercise it directly for the
    // round-budget pin
    val rounds = new java.util.concurrent.atomic.AtomicInteger(-1)
    val labs = Dedup.ccFromEdges(edges, sparseMaxEdges = -1L,
        roundsOut = Some(rounds))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    chainIds.foreach(id => assert(labs(id) === 0L,
      s"chain node $id labeled ${labs(id)}, expected component min 0"))
    Seq(500L, 501L, 502L).foreach(id => assert(labs(id) === 500L))
    assert(labs.size === chainIds.size + 3)
    // contraction bound: roots at least halve per round, so the budget
    // is ceil(log2 |V_max_component|) + c — NOT the O(diameter) of
    // min-label propagation (119 here)
    val bound = ceilLog2(chainIds.size.toLong) + 2
    assert(rounds.get > 0 && rounds.get <= bound,
      s"chain contracted in ${rounds.get} rounds, budget $bound")
    // and the sparse union-find labels the same adversarial graph
    // identically (including the long chain that defeats naive
    // propagation)
    val uf = Dedup.ccFromEdges(edges, sparseMaxEdges = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf === labs)
  }

  private def ceilLog2(n: Long): Int =
    64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))

  test("CC round count stays within the log2 contraction budget on the " +
      "harness near-dup graph (both paths)") {
    // The bound the 100 TB claim rests on: hook-and-contract halves the
    // live-root count per round, so rounds <= ceil(log2 n) + c on ANY
    // graph — asserted here on the real corpus-derived edge list, sparse
    // and dense paths alike. Measured counts are recorded in PLANS.md
    // (cluster_mutual_knn / dedup_clusters plan notes).
    val edges = Dedup.verifiedPairs(spark, sf).select("d1", "d2")
    val n = edges.selectExpr("d1 AS v").union(edges.selectExpr("d2 AS v"))
      .distinct().count()
    val bound = ceilLog2(n) + 2
    for (maxEdges <- Seq(Long.MaxValue, -1L)) {
      val rounds = new java.util.concurrent.atomic.AtomicInteger(-1)
      Dedup.ccFromEdges(edges, maxEdges, Some(rounds)).count()
      assert(rounds.get > 0 && rounds.get <= bound,
        s"path(maxEdges=$maxEdges): ${rounds.get} rounds > budget " +
          s"$bound for $n vertices")
    }
  }

  test("CC: an edge with a NULL endpoint joins nothing on either path") {
    // (3, NULL) is no edge: the dense path's d1 =!= d2 drops it, and
    // the sparse union-find must too, neither failing on the NULL nor
    // reading it as vertex 0 (which would merge 3 into {0, 7})
    val edges = Seq[(Long, Option[Long])](
      (1L, Some(2L)), (0L, Some(7L)), (3L, None)).toDF("d1", "d2")
    def labels(maxEdges: Long): Map[Long, Long] =
      Dedup.ccFromEdges(edges, maxEdges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dense = labels(-1L)
    assert(dense === Map(1L -> 1L, 2L -> 1L, 0L -> 0L, 7L -> 0L))
    assert(labels(Long.MaxValue) === dense)
  }

  test("CC dense (shuffle-join) path matches the sparse (broadcast) path") {
    // sparseMaxEdges = -1 forces every round onto the dense path: plain
    // shuffle hash-joins, no coalesce(1), no broadcast label table.
    val sparse = Dedup.clustersImpl(Long.MaxValue)(spark, sf)
      .collect().map(_.toString).sorted
    val dense = Dedup.clustersImpl(-1L)(spark, sf)
      .collect().map(_.toString).sorted
    assert(dense === sparse)
    assert(sparse.nonEmpty)
  }

  test("blocked cosine all-pairs is invariant to the block count") {
    // B=1 is the degenerate single-task brute force; any B must emit the
    // identical pair set and values (block decomposition is a pure
    // re-scheduling of the same comparisons).
    val brute = Similarity.cosineNeardupBlocked(1)(spark, sf)
      .collect().map(_.toString).sorted
    for (b <- Seq(3, 8, 13)) {
      val blocked = Similarity.cosineNeardupBlocked(b)(spark, sf)
        .collect().map(_.toString).sorted
      assert(blocked === brute, s"B=$b diverged from brute force")
    }
    assert(brute.nonEmpty)
  }

  test("ann_brute_topk: ranks are 1..5 per query, cosine non-increasing") {
    val rows = Similarity.annBruteTopk(spark, sf)
      .select("q_id", "rank", "cos_sim")
      .collect().groupBy(_.getLong(0))
    assert(rows.size === 10)
    rows.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to 5L))
      val sims = sorted.map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("lsh bucket candidates are a subset of brute-force corpus scoring") {
    // every LSH result must also appear somewhere in the brute-force
    // ordering with the same cosine value
    val brute = Similarity.annBruteTopk(spark, sf)
      .select("q_id", "c_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .map { case (q, c, s) => (q, c) -> s }.toMap
    val lsh = Similarity.annLshTopk(spark, sf)
      .select("q_id", "c_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
    lsh.foreach { case (q, c, s) =>
      brute.get((q, c)).foreach(b => assert(b === s))
    }
  }

  test("text_lm_perplexity: every multi-token doc scored, scores " +
      "non-negative, bigram accounting exact") {
    val out = graft.functions.TextAnalysis.lmPerplexity(spark, sf).collect()
    val toks = graft.sources.Tables.t(spark, sf, "documents")
      .selectExpr("doc_id", "size(split(text, ' ')) AS nt")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val multi = toks.filter(_._2 >= 2)
    assert(out.length === multi.size,
      "exactly the docs with >= 2 tokens must be scored")
    out.foreach { r =>
      val (id, nBg, nll) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      // every adjacent pair is scored: the LM is trained on the same
      // corpus, so no bigram can miss the inner joins
      assert(nBg === multi(id) - 1L, s"doc $id bigram count")
      // add-1 smoothing keeps every P(w2|w1) < 1 for a real vocab
      assert(nll >= 0.0, s"doc $id negative avg NLL $nll")
    }
  }

  test("text_bm25_topk: ranks well-formed, scores non-increasing, " +
      "and the full ranking matches an independent recompute") {
    val qterms = Map(
      1L -> Set("join", "hash"),
      2L -> Set("vector", "stream"),
      3L -> Set("scan", "filter", "slow"))
    val out = graft.functions.TextAnalysis.bm25TopK(spark, sf).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq ===
        (1L to sorted.length.toLong))
      val scores = sorted.map(_.getDouble(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(qterms.contains(q))
    }
    // independent single-machine BM25 with the same integer inputs and
    // 6dp-rounded partials
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val n = docs.size.toLong
    val sumDl = docs.values.map(_.size.toLong).sum
    val dfAll = docs.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, v) => t -> v.size.toLong }
    def score(q: Long): Seq[(Long, BigDecimal)] = docs.toSeq.flatMap {
      case (d, toks) =>
        val dl = toks.size.toLong
        val parts = qterms(q).toSeq.flatMap { term =>
          val tf = toks.count(_ == term).toLong
          if (tf == 0) None
          else {
            val idf = math.log(1 + (n.toDouble - dfAll(term) + 0.5) /
              (dfAll(term).toDouble + 0.5))
            val tfc = (tf.toDouble * 2.2) / (tf.toDouble + 1.2 *
              (0.25 + 0.75 * dl.toDouble * n.toDouble / sumDl.toDouble))
            Some(BigDecimal(idf * tfc)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP))
          }
        }
        if (parts.isEmpty) None else Some(d -> parts.sum)
    }.sortBy { case (d, sc) => (-sc, d) }.take(5)
    qterms.keys.foreach { q =>
      val expect = score(q)
      val got = out.filter(_.getLong(0) == q).sortBy(_.getLong(1))
        .map(r => (r.getLong(2), BigDecimal(r.getDouble(4))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSeq
      assert(got === expect, s"q=$q: $got vs $expect")
    }
  }

  test("triangle kernel matches brute force on adversarial hub + " +
      "clique + chain graphs, and the hub generates no wedge blowup") {
    // hub: star of degree 40 (0 triangles, C(40,2) wedges); K6 clique
    // (20 triangles); chain (0); one bridge tying hub to clique adds a
    // configurable triangle via (hub, c1, c2)
    val star = (1L to 40L).map(i => (0L, 1000L + i))
    val k6 = (for {
      i <- 0 until 6; j <- i + 1 until 6
    } yield (2000L + i, 2000L + j)).toSeq
    val chain = (0L until 30L).map(i => (3000L + i, 3001L + i))
    val bridge = Seq((0L, 2000L), (0L, 2001L)) // + edge 2000-2001 in k6
    val edges = (star ++ k6 ++ chain ++ bridge)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    def brute(es: Seq[(Long, Long)]): Long = {
      val set = es.toSet
      val verts = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      verts.combinations(3).count { case Seq(a, b, c) =>
        set((a, b)) && set((a, c)) && set((b, c))
      }.toLong
    }
    val df = edges.toDF("d1", "d2")
    val got = Dedup.triangleStats(df).head
    assert(got.getLong(0) === edges.size.toLong)            // n_edges
    val degs = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map(_._2.size.toLong)
    assert(got.getLong(1) === degs.map(d => d * (d - 1) / 2).sum)
    assert(got.getLong(2) === brute(edges))                 // 20 + 1
    assert(got.getLong(2) === 21L)
  }

  test("text quality + token counts agree on a literal string") {
    val df = Seq((1L, "the quick brown fox", "en", "s", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    df.createOrReplaceTempView("documents_fixture")
    val toks = df.selectExpr("size(split(text, ' ')) AS n").head.getInt(0)
    assert(toks === 4)
  }

  test("ann_hard_negatives: every negative has a different label and " +
      "the ranking equals a single-machine pre-filtered recompute") {
    val out = Similarity.annHardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.nonEmpty)
    out.foreach { case (_, _, _, ql, cl, _) => assert(ql !== cl) }
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val expect = rows.filter(_._1 < 10).sortBy(_._1).toSeq.flatMap {
      case (qid, qv, qlab) =>
        val qn = math.sqrt(dot(qv, qv))
        rows.filter(r => r._1 >= 10 && r._3 != qlab).toSeq
          .map { case (cid, cv, clab) =>
            (cid, clab, dot(qv, cv) / (qn * math.sqrt(dot(cv, cv))))
          }
          .sortBy { case (cid, _, s) => (-s, cid) }.take(3)
          .zipWithIndex.map { case ((cid, clab, s), i) =>
            (qid, i + 1L, cid, qlab.toLong, clab.toLong,
              BigDecimal(s).setScale(6,
                BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
    }
    assert(out.toSeq === expect)
  }

  test("search_hybrid_rrf: fusion equals a single-machine recompute of " +
      "BM25 + cosine top-20 lists fused with integer RRF") {
    val out = Similarity.searchHybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    // --- lexical side: BM25 over doc_id >= 10, 6dp DECIMAL partials
    val qterms = Map(
      1L -> Seq("join", "hash"),
      2L -> Seq("vector", "stream"),
      3L -> Seq("scan", "filter", "slow"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .filter(_.getLong(0) >= 10)
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val n = docs.size.toLong
    val sumDl = docs.values.map(_.size.toLong).sum
    val dfAll = docs.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, v) => t -> v.size.toLong }
    def lexRanks(q: Long): Map[Long, Long] = docs.toSeq.flatMap {
      case (d, toks) =>
        val dl = toks.size.toLong
        val parts = qterms(q).flatMap { term =>
          val tf = toks.count(_ == term).toLong
          if (tf == 0 || !dfAll.contains(term)) None
          else {
            val idf = math.log(1 + (n.toDouble - dfAll(term) + 0.5) /
              (dfAll(term).toDouble + 0.5))
            val tfc = (tf.toDouble * 2.2) / (tf.toDouble + 1.2 *
              (0.25 + 0.75 * dl.toDouble * n.toDouble / sumDl.toDouble))
            Some(BigDecimal(idf * tfc)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP))
          }
        }
        if (parts.isEmpty) None else Some(d -> parts.sum)
    }.sortBy { case (d, sc) => (-sc, d) }.take(20)
      .zipWithIndex.map { case ((d, _), i) => d -> (i + 1L) }.toMap
    // --- dense side: left-to-right double fold (= graft_dot)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def denseRanks(q: Long): Map[Long, Long] = {
      val qv = vecs(q)
      val qn = math.sqrt(dot(qv, qv))
      vecs.toSeq.filter(_._1 >= 10).map { case (c, cv) =>
        c -> dot(qv, cv) / (qn * math.sqrt(dot(cv, cv)))
      }.sortBy { case (c, s) => (-s, c) }.take(20)
        .zipWithIndex.map { case ((c, _), i) => c -> (i + 1L) }.toMap
    }
    // --- integer RRF fusion, rank 0 = not retrieved
    val expect = Seq(1L, 2L, 3L).flatMap { q =>
      val lr = lexRanks(q)
      val dr = denseRanks(q)
      (lr.keySet ++ dr.keySet).toSeq.map { d =>
        val score = lr.get(d).map(r => 1000000L / (60L + r)).getOrElse(0L) +
          dr.get(d).map(r => 1000000L / (60L + r)).getOrElse(0L)
        (q, d, score, lr.getOrElse(d, 0L), dr.getOrElse(d, 0L))
      }.sortBy { case (_, d, sc, _, _) => (-sc, d) }.take(10)
        .zipWithIndex.map { case ((qq, d, sc, l, dn), i) =>
          (qq, i + 1L, d, sc, l, dn)
        }
    }
    assert(out.toSeq === expect,
      s"hybrid fusion mismatch:\n got=${out.toSeq}\n exp=$expect")
  }
}
