package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.{Dedup, Pipeline, Similarity}

/** One-order-of-magnitude scale evidence for the iterative / jaccard
  * / ANN family: synthesizes a 10× corpus from the sf0.1 documents +
  * embeddings tables and times the headline queries on it.
  *
  * Scaling construction (deterministic, workload-preserving):
  *  - documents: 10 replicas; replica k > 0 prefixes every word with
  *    "zk<k>", so replicas share NO word-3-grams with each other —
  *    the dup/near-dup structure of the base corpus is replicated 10×
  *    (the realistic shape) instead of every doc becoming a 10-copy
  *    dup group (a pathological one). doc_id/n_chars remapped.
  *  - embeddings: 10 replicas, vec_id offset per replica, each
  *    element deterministically perturbed per replica; only replica
  *    0 holds the vec_id < 5 query vectors, so ANN probes scan a 10×
  *    corpus for the same query set.
  * SPARK_GRAFT_CPUS sets the local core count (default 32).
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/run.sh
  * graft.tools.ScaleBench [outDir=/tmp/graft_sf1x] */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("/tmp/graft_sf1x")
    val replicas = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"${(System.nanoTime() - t0) / 1e9}%8.2f  $label"); r
    }
    // full-plan execution, nothing written (see Bench on why not count())
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val rep = spark.range(replicas).select(col("id").cast("int").as("k"))
    // id spaces stay DENSE (offset by the base cardinality, not a
    // round constant): the IVF sampling stride derives cell count
    // from max(vec_id), which presumes ids ~ dense — as in the
    // driver-generated tables this corpus stands in for
    val nDocs = t(spark, baseDir, "documents").count()
    val nVecs = t(spark, baseDir, "embeddings").count()
    val docs = t(spark, baseDir, "documents").crossJoin(rep)
      .withColumn("text", when(col("k") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(^| )"),
          concat(lit("$1z"), col("k"), lit("q")))))
      .withColumn("doc_id", col("doc_id") + col("k").cast("long") * nDocs)
      .withColumn("n_chars", length(col("text")).cast("int"))
      .drop("k")
    docs.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = t(spark, baseDir, "embeddings").crossJoin(rep)
      .withColumn("embedding", transform(col("embedding"),
        x => (x + col("k").cast("float") * 0.013f).cast("float")))
      .withColumn("vec_id", col("vec_id") + col("k").cast("long") * nVecs)
      .drop("k")
    emb.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"scaled corpus: ${spark.read.parquet(s"$out/documents.parquet").count()} docs, " +
      s"${spark.read.parquet(s"$out/embeddings.parquet").count()} vectors at $out")

    // Candidate-volume evidence for the adaptive simhash blocking:
    // as n grows 10× the chosen block count rises and candidate pairs
    // should track ~n (true near-dups replicate 10×; random
    // collisions stay bounded by the widened keys), not n².
    for (d <- Seq(baseDir, out)) {
      val (n, blocks, cands) = Dedup.simhashCandidateStats(spark, d)
      println(f"simhash blocking at $d: $n%d docs -> $blocks%d blocks, $cands%d candidate pairs")
    }
    // Shuffle-volume evidence for the two heaviest round-6 text
    // shapes (round-7 directive): dedup_span_exact's spans ARE its
    // shuffle (every word-8-gram crosses as an 8-byte key into the df
    // agg; hot spans come back through one join), and
    // text_perplexity's ONE token shuffle is absorbed map-side by
    // partial counts, so its reduce side is the DISTINCT vocab, not
    // the token stream. Both must track n, never n².
    for (d <- Seq(baseDir, out)) {
      val docs = t(spark, d, "documents")
      val spans = docs.select(col("doc_id"),
        explode(graft.functions.GraftExpressions.wordNgrams(col("text"), 8))
          .as("span"))
        .select(col("doc_id"), xxhash64(col("span")).as("sk"))
      val spanRows = spans.count()
      val hotSpans = spans.distinct().groupBy("sk")
        .agg(count(lit(1)).as("df")).filter(col("df") >= 2).count()
      val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
      val tokRows = toks.count()
      val vocab = toks.distinct().count()
      println(f"span/perplexity volumes at $d: spans=$spanRows%d " +
        f"hot_spans=$hotSpans%d tokens=$tokRows%d distinct_vocab=$vocab%d")
    }
    // Round-7 additions: text_keywords_tfidf's shuffles are the
    // (doc, term) count table (≤ token volume, map-combined) and the
    // term-cardinality df table; text_entropy shuffles NOTHING (the
    // sorted-run HOF is map-side) — its only volume is the scan.
    for (d <- Seq(baseDir, out)) {
      val docs = t(spark, d, "documents")
      val tfRows = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1))).count()
      val dfRows = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        .distinct().groupBy("tok").agg(count(lit(1))).count()
      println(f"tfidf volumes at $d: tf_rows=$tfRows%d df_terms=$dfRows%d")
    }
    // Round-8 additions (§2h probe): the events suite is window-heavy,
    // so measure what actually crosses its shuffles at 10× events (a
    // ScaleTables corpus, which scales the events table too — the
    // replica corpus above only scales docs/embeddings):
    //  - events_sessionize: every event row crosses ONCE keyed by
    //    user_id (volume = the event count), and the window partition
    //    count is the user space — both must track n;
    //  - events_user_segments: the per-user agg's reduce side is the
    //    USER count (map-combined partials), and the ntile windows
    //    partition by cohort_week — a CALENDAR-bounded key set that
    //    must NOT grow with the corpus (rows per partition grow, the
    //    partition count doesn't).
    val eventsScaled = sys.env.getOrElse("SPARK_GRAFT_EVENTS_10X", "/tmp/graft_sf1")
    val evDirs =
      if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$eventsScaled/events.parquet")))
        Seq(baseDir, eventsScaled)
      else { println(s"events 10x probe SKIPPED: no $eventsScaled/events.parquet"); Seq.empty }
    for (d <- evDirs) {
      val ev = graft.Tables.events(spark, d)
      val nEvents = ev.count()
      val nUsers = ev.select("user_id").distinct().count()
      val nSessions = graft.operators.EventAnalytics.sessionize(spark, d).count()
      val nWeeks = ev.select(expr(
        s"unix_micros(ts) DIV ${graft.operators.EventAnalytics.DayUs} DIV 7"))
        .distinct().count()
      println(f"events volumes at $d: events=$nEvents%d users=$nUsers%d " +
        f"sessions=$nSessions%d cohort_weeks=$nWeeks%d")
    }
    // Round-9 addition (§2h probe, cooccurrence): the pair explode
    // happens INSIDE per-user collect_set arrays, so its volume is
    // Σ_user C(|types_u|, 2) ≤ users × C(|types|, 2) — it must track
    // the USER count (with the per-user bound a domain constant),
    // never events².
    for (d <- evDirs) {
      val ev = graft.Tables.events(spark, d)
      val ut = ev.select("user_id", "event_type").distinct()
      val nTypes = ev.select("event_type").distinct().count()
      val perUser = ut.groupBy("user_id").agg(count(lit(1)).as("k"))
      val stats = perUser.agg(count(lit(1)).as("users"),
        max(col("k")).as("max_k"), avg(col("k")).as("avg_k"),
        sum(col("k") * (col("k") - 1) / 2).as("pair_rows")).collect()(0)
      println(f"cooccurrence volumes at $d: types=$nTypes%d " +
        f"users=${stats.getAs[Long]("users")}%d " +
        f"max_types_per_user=${stats.getAs[Long]("max_k")}%d " +
        f"avg=${stats.getAs[Double]("avg_k")}%.2f " +
        f"pair_explode_rows=${stats.getAs[java.math.BigDecimal]("pair_rows")}%s " +
        f"(bound users*C(types,2)=${stats.getAs[Long]("users") * nTypes * (nTypes - 1) / 2}%d)")
    }
    // Round-9 additions: pipeline_dedup_survivors' ONE shuffle is the
    // digest-keyed window input (volume = the doc count; reduce side
    // = distinct contents), and events_hourly_seasonality reduces the
    // event stream to a CALENDAR-bounded bucket table (≤ |types|×168
    // rows — it must NOT grow with the corpus).
    for (d <- Seq(baseDir, out)) {
      val docs = t(spark, d, "documents")
      val nDocs2 = docs.count()
      val distinctContents = docs
        .select(md5(lower(col("text")).cast("binary"))).distinct().count()
      println(f"survivors volumes at $d: docs=$nDocs2%d " +
        f"digest_shuffle_rows=$nDocs2%d distinct_contents=$distinctContents%d")
    }
    for (d <- evDirs) {
      val ev = graft.Tables.events(spark, d)
      val buckets = ev.select(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000 % 24"),
        expr(s"(unix_micros(ts) DIV ${graft.operators.EventAnalytics.DayUs} + 3) % 7 + 1"))
        .distinct().count()
      println(f"seasonality volumes at $d: events=${ev.count()}%d " +
        f"bucket_rows=$buckets%d (bound types*168)")
    }
    if (evDirs.nonEmpty) {
      time("events_hourly_seasonality 1x")(noop(
        graft.operators.EventAnalytics.hourlySeasonality(spark, baseDir)))
      time("events_hourly_seasonality 10x")(noop(
        graft.operators.EventAnalytics.hourlySeasonality(spark, eventsScaled)))
    }
    time("pipeline_dedup_survivors 1x")(noop(
      graft.operators.Pipeline.dedupSurvivors(spark, baseDir)))
    time("pipeline_dedup_survivors 10x")(noop(
      graft.operators.Pipeline.dedupSurvivors(spark, out)))
    if (evDirs.nonEmpty) {
      time("events_cooccurrence 1x")(noop(
        graft.operators.EventAnalytics.cooccurrence(spark, baseDir)))
      time("events_cooccurrence 10x")(noop(
        graft.operators.EventAnalytics.cooccurrence(spark, eventsScaled)))
      time("events_sessionize 1x")(noop(
        graft.operators.EventAnalytics.sessionize(spark, baseDir)))
      time("events_sessionize 10x")(noop(
        graft.operators.EventAnalytics.sessionize(spark, eventsScaled)))
      time("events_user_segments 1x")(noop(
        graft.operators.EventAnalytics.userSegments(spark, baseDir)))
      time("events_user_segments 10x")(noop(
        graft.operators.EventAnalytics.userSegments(spark, eventsScaled)))
    }
    // Round-8 text/ANN shapes: text_perplexity_bigram's ONE corpus
    // shuffle is the bigram freq agg — its map side is the pair
    // stream (born map-side from zip_with, no self-join), its reduce
    // side the DISTINCT bigram vocabulary; ann_hybrid_search's only
    // corpus-sized shuffles are the two rank exchanges, both under
    // partial WindowGroupLimit. Volumes must track n, never n².
    for (d <- Seq(baseDir, out)) {
      val pairs = t(spark, d, "documents").select(explode(expr(
        "zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), " +
          "slice(split(text, ' '), 2, size(split(text, ' ')) - 1), " +
          "(a, b) -> concat_ws(' ', a, b))")).as("bg"))
      println(f"bigram volumes at $d: pairs=${pairs.count()}%d " +
        f"distinct_bigrams=${pairs.distinct().count()}%d")
    }
    time("text_perplexity_bigram 1x")(noop(
      graft.operators.TextAnalysis.textPerplexityBigram(spark, baseDir)))
    time("text_perplexity_bigram 10x")(noop(
      graft.operators.TextAnalysis.textPerplexityBigram(spark, out)))
    time("ann_hybrid_search 1x")(noop(
      graft.operators.Similarity.annHybridSearch(spark, baseDir)))
    time("ann_hybrid_search 10x")(noop(
      graft.operators.Similarity.annHybridSearch(spark, out)))
    time("text_keywords_tfidf 1x")(noop(
      graft.operators.TextAnalysis.textKeywordsTfidf(spark, baseDir)))
    time("text_keywords_tfidf 10x")(noop(
      graft.operators.TextAnalysis.textKeywordsTfidf(spark, out)))
    time("text_entropy 1x")(noop(
      graft.operators.TextAnalysis.textEntropy(spark, baseDir)))
    time("text_entropy 10x")(noop(
      graft.operators.TextAnalysis.textEntropy(spark, out)))
    time("dedup_span_exact 1x")(noop(Dedup.dedupSpanExact(spark, baseDir)))
    time("dedup_span_exact 10x")(noop(Dedup.dedupSpanExact(spark, out)))
    time("text_perplexity 1x")(noop(
      graft.operators.TextAnalysis.textPerplexity(spark, baseDir)))
    time("text_perplexity 10x")(noop(
      graft.operators.TextAnalysis.textPerplexity(spark, out)))
    // Round-10 addition (§2d probe, ann_filtered_topk): the metadata
    // predicate resolves as an id-keyed JOIN before the cosine — the
    // only corpus-sized shuffle is that join (vec_id-keyed: corpus
    // vectors + filter-passing doc ids; no corpus broadcast), and the
    // cosine scans SURVIVORS only. Survivor volume must track filter
    // selectivity × n — the join must never inflate, and the 10×
    // survivors must be ~10× the 1× survivors.
    for (d <- Seq(baseDir, out)) {
      val corpusVecs = t(spark, d, "embeddings")
        .filter(col("vec_id") >= 5).count()
      val allowedIds = t(spark, d, "documents")
        .filter(col("lang") === "en").count()
      val survivors = t(spark, d, "embeddings").filter(col("vec_id") >= 5)
        .join(t(spark, d, "documents").filter(col("lang") === "en")
          .select(col("doc_id").as("vec_id")), "vec_id").count()
      println(f"filtered-topk volumes at $d: corpus_vectors=$corpusVecs%d " +
        f"allowed_ids=$allowedIds%d join_survivors=$survivors%d")
    }
    time("ann_filtered_topk 1x")(noop(Similarity.annFilteredTopk(spark, baseDir)))
    time("ann_filtered_topk 10x")(noop(Similarity.annFilteredTopk(spark, out)))
    // Round-10b additions: pipeline_contamination_matrix's corpus
    // shuffle is the distinct (source, gram-hash) table; the pair
    // join's output is bounded by shared-gram mass × |sources|² per
    // gram (the replica construction shares nothing ACROSS replicas,
    // so shared mass tracks the base corpus × replicas, i.e. ~n);
    // emb_dim_stats reduces n·d exploded rows to exactly d output
    // rows at ANY scale — the reduce side must not grow.
    for (d <- Seq(baseDir, out)) {
      val g = t(spark, d, "documents")
        .select(col("source"),
          explode(graft.functions.GraftExpressions.wordNgrams(col("text"), 8))
            .as("gr"))
        .select(col("source"), xxhash64(col("gr")).as("gk")).distinct()
      val gramRows = g.count()
      val pairRows = g.as("a").join(g.as("b"), col("a.gk") === col("b.gk") &&
        col("a.source") =!= col("b.source")).count()
      val dimRows = t(spark, d, "embeddings")
        .select(posexplode(col("embedding"))).groupBy("pos").count().count()
      println(f"round-10b volumes at $d: distinct_source_grams=$gramRows%d " +
        f"xsource_pair_rows=$pairRows%d dim_reduce_rows=$dimRows%d")
    }
    time("pipeline_contamination_matrix 1x")(noop(
      Pipeline.contaminationMatrix(spark, baseDir)))
    time("pipeline_contamination_matrix 10x")(noop(
      Pipeline.contaminationMatrix(spark, out)))
    time("emb_dim_stats 1x")(noop(Similarity.embDimStats(spark, baseDir)))
    time("emb_dim_stats 10x")(noop(Similarity.embDimStats(spark, out)))
    // dedup_incremental_bloom's claim: the bloom tier admits only
    // ~(dup rate + false-positive rate) of the incoming shard into
    // the exact join — candidates must track the true dup count, not
    // the shard size.
    for (d <- Seq(baseDir, out)) {
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
      import org.apache.spark.sql.graftbridge.ColumnBridge
      import org.apache.spark.sql.types.BinaryType
      val docs = t(spark, d, "documents")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
        .localCheckpoint(true)
      val existing = docs.filter(col("doc_id") % 10 =!= 0)
      val incoming = docs.filter(col("doc_id") % 10 === 0)
      val bloomBytes = existing.agg(ColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
            XxHash64(Seq(ColumnBridge.expression(col("digest"))), 42L),
            Literal(100000L), Literal(8L * 100000L * 8L), 0, 0)
            .toAggregateExpression()).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
      val nIncoming = incoming.count()
      val nCandidates = incoming.filter(ColumnBridge.column(
        BloomFilterMightContain(Literal(bloomBytes, BinaryType),
          XxHash64(Seq(ColumnBridge.expression(col("digest"))), 42L)))).count()
      val nDups = incoming.join(existing.select("digest").distinct(),
        Seq("digest"), "left_semi").count()
      println(f"incremental-bloom volumes at $d: incoming=$nIncoming%d " +
        f"bloom_candidates=$nCandidates%d exact_dups=$nDups%d")
    }
    // Round-11 addition (§14.1 discipline for graph_pagerank, the one
    // round-10 iterative op without a measured probe): the edge table
    // is checkpointed ONCE (volume = blocked-cosine edge pairs, must
    // track the near-dup mass ~n), and each of the 5 rounds shuffles
    // ONLY (node, rank) integer rows — per-round shuffle volume =
    // directed-edge rows (sym = 2×edges, the join fan-out) plus the
    // node-count inflow agg, independent of text/vector width and
    // constant across rounds. 10×/1× on both must be ~the replica
    // factor.
    for (d <- Seq(baseDir, out)) {
      val e = Dedup.embeddingCosineEdges(spark, d).persist()
      val edges = e.count()
      val sym = 2 * edges
      val nodes = e
        .select(explode(array(col("v1"), col("v2"))).as("v"))
        .distinct().count()
      e.unpersist()
      println(f"pagerank volumes at $d: edges=$edges%d " +
        f"per_round_shuffle_rows=$sym%d (directed edges; (node,rank) " +
        f"ints only) nodes=$nodes%d")
    }
    time("graph_pagerank 1x")(noop(Similarity.graphPagerank(spark, baseDir)))
    time("graph_pagerank 10x")(noop(Similarity.graphPagerank(spark, out)))
    // Round-11 additions: text_bigram_pmi's corpus shuffle is the
    // map-generated bigram stream into THREE vocabulary-bounded
    // aggregates (c_ab / c_a / c_b — distinct bigrams and unigrams
    // must grow sublinearly vs the pair stream); emb_power_iteration's
    // one shuffle is the map-combined d² Gram aggregate (reduce side
    // EXACTLY 4096 at any corpus); events_rfm's windows re-sort the
    // USER-bounded aggregate, never the event stream.
    for (d <- Seq(baseDir, out)) {
      val w = t(spark, d, "documents")
        .select(split(lower(col("text")), " ").as("w"))
      val bg = w.select(explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), " +
          "(a, b) -> concat_ws(' ', a, b))")).as("bg"))
      println(f"pmi volumes at $d: bigram_rows=${bg.count()}%d " +
        f"distinct_bigrams=${bg.distinct().count()}%d")
      val gram = t(spark, d, "embeddings").filter(col("vec_id") % 5 === 0)
      println(f"power-iteration volumes at $d: sampled_vectors=${gram.count()}%d " +
        f"gram_reduce_rows=4096 (d², corpus-independent)")
    }
    // Round-12 additions: the new operators' shuffle shapes.
    //  - events_active_sessions: the sweep's delta table is EXACTLY
    //    2 rows per session (no interval explode), and its reduce
    //    side is calendar-bounded;
    //  - events_survival_curve: reduce = distinct whole-day ages ≤
    //    the calendar span;
    //  - events_markov_2nd: reduce ≤ |types|³ — corpus-independent;
    //  - mm_frame_dup_rate: the lag window carries one 16-bit hash
    //    per 256-byte frame — volume tracks corpus BYTES / 256.
    for (d <- evDirs) {
      val nSessions = graft.operators.EventAnalytics.sessionize(spark, d).count()
      val nDays = graft.operators.EventAnalytics.activeSessions(spark, d).count()
      val nAges = graft.operators.EventAnalytics.survivalCurve(spark, d).count()
      val nTri = graft.operators.EventAnalytics.markov2nd(spark, d).count()
      println(f"round-12 events volumes at $d: session_deltas=${2 * nSessions}%d " +
        f"sweep_days=$nDays%d survival_ages=$nAges%d markov_rows=$nTri%d")
    }
    for (d <- Seq(baseDir, out)) {
      val frames = t(spark, d, "documents")
        .select(ceil(length(col("text")) / lit(256.0)).cast("long").as("f"))
        .agg(sum("f")).collect()(0).getLong(0)
      println(f"round-12 frame volumes at $d: frame_hash_rows=$frames%d")
    }
    time("mm_frame_dup_rate 1x")(noop(
      graft.operators.Multimodal.mmFrameDupRate(spark, baseDir)))
    time("mm_frame_dup_rate 10x")(noop(
      graft.operators.Multimodal.mmFrameDupRate(spark, out)))
    time("events_active_sessions 1x")(noop(
      graft.operators.EventAnalytics.activeSessions(spark, baseDir)))
    time("text_bigram_pmi 1x")(noop(
      graft.operators.TextAnalysis.textBigramPmi(spark, baseDir)))
    time("text_bigram_pmi 10x")(noop(
      graft.operators.TextAnalysis.textBigramPmi(spark, out)))
    time("emb_power_iteration 1x")(noop(
      Similarity.embPowerIteration(spark, baseDir)))
    time("emb_power_iteration 10x")(noop(
      Similarity.embPowerIteration(spark, out)))
    time("dedup_simhash")(noop(Dedup.dedupSimhash(spark, out)))
    time("dedup_ngram_jaccard")(noop(Dedup.dedupNgramJaccard(spark, out)))
    time("dedup_cluster_cc")(noop(Dedup.dedupClusterCC(spark, out)))
    time("dedup_minhash_lsh")(noop(Dedup.dedupMinhashLsh(spark, out)))
    time("dedup_embedding_cosine")(noop(Dedup.dedupEmbeddingCosine(spark, out)))
    time("decontaminate_ngram")(noop(Dedup.decontaminateNgram(spark, out)))
    time("ann_bruteforce_topk")(noop(Similarity.annBruteforceTopk(spark, out)))
    time("ann_ivf_topk")(noop(Similarity.annIvfTopk(spark, out)))
    time("pipeline_e2e_corpus")(noop(Pipeline.pipelineE2ECorpus(spark, out)))

    // Round-14 additions: the new operators' shuffle shapes.
    //  - text_char_trigram_langid: the checkpointed (doc, tri) count
    //    table is the only n-proportional shuffle (must scale
    //    linearly); the PROFILE broadcast is alphabet³×langs-bounded
    //    (must grow far below the replica factor);
    //  - ann_binary_topk: the full-precision rerank re-fetch is
    //    shortlist×|Q| rows — ABSOLUTE, must be EQUAL at any corpus
    //    size (only the 24-byte (qid, id, hamming) rows are linear);
    //  - stream_exec_foreach_upsert: the serving table is the
    //    days×types grid — calendar-bounded, never row-proportional;
    //  - events_bot_regularity: reduce side = |users|.
    for (d <- Seq(baseDir, out)) {
      // the exploded trigram stream and the sign-bit packing are the
      // operators' OWN shared helpers — the benched shape cannot
      // drift from the shipped one (review catch round 14)
      val tris = graft.operators.TextAnalysis.charTrigrams(spark, d)
      val docTri = tris.groupBy("doc_id", "lang", "tri").count()
      println(f"round-14 trigram volumes at $d: " +
        f"doc_tri_rows=${docTri.count()}%d " +
        f"profile_rows=${docTri.groupBy("lang", "tri").count().count()}%d")
      val sigs = t(spark, d, "embeddings")
        .select(col("vec_id"),
          graft.functions.VectorFunctions.toDoubleVec(col("embedding")).as("v"))
        .select(col("vec_id"),
          Similarity.signBitsExpr(0).as("sig_lo"),
          Similarity.signBitsExpr(32).as("sig_hi"))
      val qs = sigs.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"),
          col("sig_lo").as("q_lo"), col("sig_hi").as("q_hi"))
      val wH = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("hamming"), col("vec_id"))
      val rerank = sigs.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("hamming",
          (expr("bit_count(sig_lo ^ q_lo)") +
            expr("bit_count(sig_hi ^ q_hi)")).cast("long"))
        .withColumn("r", row_number().over(wH))
        .filter(col("r") <= Similarity.AnnBinaryShortlist)
        .count()
      println(f"round-14 binary-ANN at $d: rerank_fetch_rows=$rerank%d " +
        f"(ABSOLUTE shortlist x queries - equal at any corpus size)")
    }
    for (d <- evDirs) {
      val grid = graft.Tables.events(spark, d)
        .select(date_trunc("day", col("ts")), col("event_type"))
        .distinct().count()
      val users = graft.Tables.events(spark, d)
        .select("user_id").distinct().count()
      println(f"round-14 events volumes at $d: upsert_grid_rows=$grid%d " +
        f"bot_reduce_rows=$users%d")
    }
    time("text_char_trigram_langid 1x")(noop(
      graft.operators.TextAnalysis.textCharTrigramLangid(spark, baseDir)))
    time("text_char_trigram_langid 10x")(noop(
      graft.operators.TextAnalysis.textCharTrigramLangid(spark, out)))
    time("ann_binary_topk 1x")(noop(Similarity.annBinaryTopk(spark, baseDir)))
    time("ann_binary_topk 10x")(noop(Similarity.annBinaryTopk(spark, out)))
    spark.stop()
  }
}
