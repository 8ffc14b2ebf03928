package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Ann, Dedup, Multimodal, TextOps}
import graft.search._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] runs through the real engine (full-text
  * queries build and search the inverted index; pipeline ops are Catalyst
  * column programs); [[oracleSql]] holds the ANSI-SQL twin DuckDB executes
  * over the same parquet tables. Column names and row orderings match
  * pairwise.
  */
object SparkEntry {
  import FtQueries.{freqCol, idfSql, scoreSql, prelude}

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    FtQueries.topK(spark, "/root/testdata/sf0.001",
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("merge")),
        BooleanClause(Occur.MUST, TermQuery("sort")))), 10)

  // fixed term sets used by the verified queries
  private val statTerms = Seq("batch", "data", "merge", "sort", "spark", "window")
  private val wideTerms = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window",
    "order", "group", "data", "query")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- full-text engine (inverted index + BM25) ----
    "ft_term_stats" -> ((s, d) => FtQueries.termStatsDF(s, d, statTerms)),
    "ft_term_topk" -> ((s, d) => FtQueries.topK(s, d, TermQuery("merge"), 10)),
    "ft_bool_and" -> ((s, d) => FtQueries.matches(s, d, BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("merge")),
      BooleanClause(Occur.MUST, TermQuery("sort")))))),
    "ft_bool_or_topk" -> ((s, d) => FtQueries.topK(s, d, BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("spark")),
      BooleanClause(Occur.SHOULD, TermQuery("window")))), 10)),
    "ft_req_excl" -> ((s, d) => FtQueries.matches(s, d, BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.MUST_NOT, TermQuery("spark")))))),
    "ft_msm" -> ((s, d) => FtQueries.matches(s, d, BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("sort")),
      BooleanClause(Occur.SHOULD, TermQuery("window"))), minShouldMatch = 2))),
    "ft_phrase" -> ((s, d) => FtQueries.matches(s, d, PhraseQuery(Seq("batch", "batch")))),
    "ft_parsed" -> ((s, d) => FtQueries.topK(s, d,
      new QueryParser(FtQueries.analyzer).parse("spark OR (merge AND sort)"), 10)),
    "ft_phrase_slop" -> ((s, d) => // SLOPPY phrase `"batch data"~2` through
      // the parser (round-5: the reference stubs sloppy phrases — engine
      // spec: anchored on the first term, Σ min-displacement ≤ slop,
      // phraseFreq = #matching anchors; reorders match at slop ≥ 2)
      FtQueries.matches(s, d, FtQueries.parser.parse("\"batch data\"~2"))),
    "ft_req_opt" -> ((s, d) => FtQueries.matches(s, d, BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("spark")))))),
    "ft_field_term" -> ((s, d) => FtQueries.matches(s, d,
      FtQueries.parser.parse("+lang:de +merge"))),
    "ft_field_text" -> ((s, d) => // second ANALYZED field: BM25 with the
      // path field's own df/dl/avgdl, summed with a content clause
      FtQueries.matches(s, d, FtQueries.parser.parse("+path:src1 +merge"))),
    "ft_field_phrase" -> ((s, d) => // fielded exact phrase over the analyzed
      // path field (positions + per-field stats)
      FtQueries.matches(s, d, FtQueries.parser.parse("path:\"src1 de\""))),
    "ft_field_body" -> ((s, d) => // ARBITRARY analyzed input column (round-4
      // lift): `body` = first 12 words of the text, indexed with its own
      // df/dl/avgdl — BM25 over the body leaf summed with a content clause
      FtQueries.matches(s, d, FtQueries.parser.parse("+body:data +merge"))),
    "ft_prefix" -> ((s, d) => // prefix expansion `c*` (round-5: reference
      // lexes-but-panics): dictionary range scan → sorted SHOULD disjunction
      // {column, customer}, each term scoring with its OWN df — the corpus
      // vocabulary gives ≤2 contributing terms per doc, so the float64
      // disjunction sum is order-independent and the SQL twin exact
      FtQueries.matches(s, d, FtQueries.parser.parse("c*"))),
    "ft_prefix_singleton" -> ((s, d) => // prefix over the commit KEYWORD
      // field (raw, unanalyzed): every expanded term has df == 1, so the
      // whole query answers through singleton pulsing — terms-dict range
      // scan + stored dls, ZERO postings reads — through search()'s top-k
      FtQueries.topDocsDF(s, d, FtQueries.parser.parse("commit:42*"), 20)),
    "ft_offsets" -> ((s, d) => // per-occurrence CHARACTER OFFSETS (format-3
      // postings carry start/end streams next to positions — the
      // highlighting primitive; round-5): every occurrence of 'merge' in the
      // space-joined twin vs pure token-length arithmetic in SQL
      FtQueries.offsetsDF(s, d, "merge")),
    "ft_wildcard" -> ((s, d) => // wildcard expansion `*ue*` (round-5): a
      // LEADING wildcard (vocabulary scan + anchored-regex filter) expanding
      // to {query, value} — ≤2 contributing terms per doc keeps the float64
      // disjunction sum order-independent, same discipline as ft_prefix
      FtQueries.matches(s, d, FtQueries.parser.parse("*ue*"))),
    "ft_snippets" -> ((s, d) => { // snippet WINDOW PLANNING over stored
      // offsets (round-5): per matching doc, the 80-char window anchored at
      // a span start holding the most 'merge' occurrences — vs the same
      // argmax computed by SQL self-join arithmetic
      val idx = FtQueries.offsetsIndexPath(s, d)
      val sr = FtQueries.searcherFor(s, idx)
      graft.search.Snippets.bestWindows(sr.offsets("content", "merge"), window = 80)
        .select(col("docId").as("doc_id"),
          col("winStart").cast("long").as("win_start"),
          col("nMatches").cast("long").as("n_matches"))
        .orderBy("doc_id")
    }),
    "ft_mlt" -> ((s, d) => // MoreLikeThis (round-5, Lucene MLT-module
      // analogue): seed "vector merge merge dup data" → candidates {data,
      // dup, merge, vector} all selected (maxQueryTerms >= candidates, so
      // the set is df-independent = stable across sf) → term-SORTED SHOULD
      // disjunction; oracle sums the 4 CASE contributions in the same
      // sorted order (float64 left-to-right == engine leaf order)
      FtQueries.mltDF(s, d, "vector merge merge dup data")),
    "ft_regexp" -> ((s, d) => // regexp expansion `/s[ct][a-z]+/` (round-5):
      // anchored full-term match over the dictionary → {scan, stream} — ≤2
      // contributing terms per doc (order-independent float64 sum); the
      // pattern stays in the Java∩RE2 common subset so DuckDB's
      // regexp_full_match reproduces the expansion
      FtQueries.matches(s, d, FtQueries.parser.parse("/s[ct][a-z]+/"))),
    "ft_boosted" -> ((s, d) => // caret boost `vector^2 merge` (round-5):
      // the ^2 boost is a POWER OF TWO so (idf*boost)*tfNorm ==
      // boost*(idf*tfNorm) bit-for-bit in float64 (exponent-only scaling)
      // and the SQL twin can multiply outside; 2 terms per doc max keeps
      // the disjunction sum order-independent
      FtQueries.matches(s, d, FtQueries.parser.parse("vector^2 merge"))),
    "ft_fuzzy" -> ((s, d) => // fuzzy expansion `vale~2` (round-5): classic
      // Levenshtein ≤ 2 over the dictionary → {table, value} — ≤2
      // contributing terms per doc (order-independent float64 sum), and the
      // SQL twin recomputes the expansion with DuckDB's own levenshtein
      FtQueries.matches(s, d, FtQueries.parser.parse("vale~2"))),
    "ft_range" -> ((s, d) => // term range over the commit KEYWORD field
      // (round-5): lexicographic [100 TO 104] — singleton terms, each doc
      // matched by exactly its own commit term
      FtQueries.matches(s, d, FtQueries.parser.parse("commit:[100 TO 104]"))),
    "ft_singleton" -> ((s, d) => // singleton pulsing via search(): the commit
      // keyword field's terms all have df == 1 → the query resolves from the
      // terms dict + stored dls with ZERO postings reads
      FtQueries.topDocsDF(s, d, TermQuery("42", 1.0f, Some("commit")), 5)),
    "ft_merged" -> ((s, d) => // tiered-merge execution path, oracle-verified:
      // 8 single-segment waves folded by TieredMerge, then searched
      FtQueries.matchesAt(s, FtQueries.mergedIndexPath(s, d), TermQuery("window"))),
    "ft_merged_log" -> ((s, d) => // LogByteSize merge policy execution path,
      // oracle-verified (generational wave windows, mergeFactor=3)
      FtQueries.matchesAt(s, FtQueries.logMergedIndexPath(s, d), TermQuery("group"))),
    "ft_merged_deletes" -> ((s, d) => // merge-time delete reclamation: 20%
      // of docs deleted, fully merged + republished, searched with NO
      // query-time delete view — scores must equal a survivor-only corpus
      // (df/ttf/docCount/avgdl all post-reclaim)
      FtQueries.matchesAt(s, FtQueries.reclaimedIndexPath(s, d), TermQuery("window"))),
    "ft_lm_jm" -> ((s, d) => // LM Jelinek-Mercer λ=0.1 (no clamp: the +ln λ
      // background term takes scores negative)
      FtQueries.matchesSim(s, d, TermQuery("batch"), "lmjm", new LMJelinekMercerSimilarity)),
    "ft_streamed" -> ((s, d) => // streaming append path, oracle-verified:
      // half the corpus batch-built, half appended via foreachBatch waves
      FtQueries.matchesAt(s, FtQueries.streamedIndexPath(s, d), TermQuery("batch"))),
    "ft_field_stats" -> ((s, d) => // the published per-field collection stats
      // (incl. per-field docCount) against a from-scratch SQL recomputation
      s.read.parquet(graft.index.IndexManifest.load(s, FtQueries.indexPath(s, d)).statsLocation)
        .select(col("field"), col("maxDoc").as("max_doc"), col("docCount").as("doc_count"),
          col("sumTotalTermFreq").as("sum_ttf"), col("sumDocFreq").as("sum_df"),
          col("termCount").as("n_terms"))
        .orderBy("field")),
    "ft_deletes" -> ((s, d) => FtQueries.matchesWithDeletes(s, d, TermQuery("merge"), 10)),
    "ft_deletes_bulk" -> ((s, d) => // 1/3 of the corpus deleted, ranged path
      FtQueries.matchesWithDeletesBulk(s, d, TermQuery("data"), 3)),
    "ft_deletes_term" -> ((s, d) => // delete-by-term: drop every doc
      // containing 'window', then search 'sort' (distributed resolution +
      // ranged join; mechanism-distinct from MUST_NOT evaluation)
      FtQueries.matchesWithDeletesByTerm(s, d, TermQuery("sort"), "content", "window")),
    "ft_deletes_query" -> ((s, d) => { // delete-by-QUERY: drop every doc
      // matching '+spark +batch', then search 'group' through the view
      val del = BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("spark")),
        BooleanClause(Occur.MUST, TermQuery("batch"))))
      FtQueries.searcher(s, d).withDeletesQuery(del)
        .scoredDocs(TermQuery("group"), ScoreMode.ExactDouble)
        .toDF("doc_id", "score")
        .select(col("doc_id"), round(col("score"), 4).as("score_r"))
        .orderBy("doc_id")
    }),
    "ft_tfidf" -> ((s, d) => // classic TF-IDF: idf=ln(N/(df+1))+1, queryNorm
      // = 1/√Σw², coord = overlap/maxOverlap — the full two-phase weighting
      // pipeline, oracle-verified (not just unit vectors)
      FtQueries.matchesSim(s, d, BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, TermQuery("spark")))), "tfidf", new TfIdfSimilarity)),
    "ft_lm_dirichlet" -> ((s, d) => // LM Dirichlet μ=2000 with the 0-clamp
      FtQueries.matchesSim(s, d, TermQuery("merge"), "lmd", new LMDirichletSimilarity)),
    "ft_dfr" -> ((s, d) => // DFR default config IF-L-H2 (c=1): tfn length
      // normalization, information-frequency basic model, Laplace after-effect
      FtQueries.matchesSim(s, d, TermQuery("window"), "dfr", new DFRSimilarity)),
    "ft_ib" -> ((s, d) => // information-based LL×DF (log-logistic over the
      // document-frequency lambda), H2-style tfn
      FtQueries.matchesSim(s, d, TermQuery("sort"), "ib", new IBSimilarity)),
    "ft_bm25l" -> ((s, d) => // BM25L: idf=ln((N+1)/(df+0.5)), shifted tfNorm
      FtQueries.matchesSim(s, d, TermQuery("query"), "bm25l", new Bm25LSimilarity)),
    "ft_bm25plus" -> ((s, d) => // BM25+: lower-bounded tfNorm (+1)
      FtQueries.matchesSim(s, d, TermQuery("stream"), "bm25plus", new Bm25PlusSimilarity)),
    "ft_atire" -> ((s, d) => // ATIRE BM25: idf=ln(N/df)
      FtQueries.matchesSim(s, d, TermQuery("filter"), "atire", new AtireBm25Similarity)),
    "ft_modbm25" -> ((s, d) => // modBM25: idf=ln((N+1)/df)
      FtQueries.matchesSim(s, d, TermQuery("join"), "modbm25", new ModBm25Similarity)),
    "ft_lm_hiemstra" -> ((s, d) => // LM Hiemstra λ=0.15
      FtQueries.matchesSim(s, d, TermQuery("table"), "lmh", new LMHiemstraSimilarity)),
    "ft_lm_absdisc" -> ((s, d) => // LM absolute discounting δ=0.7 (no clamp)
      FtQueries.matchesSim(s, d, TermQuery("scan"), "lmad", new LMAbsoluteDiscountingSimilarity)),
    "ft_lm_twostage" -> ((s, d) => // LM two-stage λ=0.1, μ=2000 (clamped)
      FtQueries.matchesSim(s, d, TermQuery("order"), "lmts", new LMTwoStageSimilarity)),
    "ft_dfi" -> ((s, d) => // divergence-from-independence (chi²): freq at or
      // below expectation scores 0 but still matches
      FtQueries.matchesSim(s, d, TermQuery("data"), "dfi", new DFISimilarity)),
    "ft_lm_pitmanyor" -> ((s, d) => // LM Pitman-Yor μ=2000 δ=0.7: the
      // reference's discount term ln(1 - sumTokens/(dl+μ)) clamps every doc
      // of a corpus with > dl+μ tokens to 0 — docs still MATCH at score 0
      // (the same reference behavior the float32 path reproduces)
      FtQueries.matchesSim(s, d, TermQuery("hash"), "lmpy",
        new LMPitmanYorProcessSimilarity)),
    "ft_perfield" -> ((s, d) => // PerFieldSimilarityWrapper routing: the path
      // leaf scores TF-IDF (unnormalized: wrapper queryNorm comes from the
      // BM25 default), the content leaf BM25
      FtQueries.matchesSim(s, d, FtQueries.parser.parse("+path:src1 +merge"),
        "perfield", new PerFieldSimilarityWrapper(new Bm25Similarity,
          Map("path" -> new TfIdfSimilarity)))),
    "ft_multi" -> ((s, d) => // MultiSimilarity: arithmetic mean of BM25 and
      // (unnormalized) TF-IDF leaf scores
      FtQueries.matchesSim(s, d, TermQuery("batch"), "multi",
        new MultiSimilarity(Seq(new Bm25Similarity, new TfIdfSimilarity)))),
    "ft_paged" -> ((s, d) => // pagination: results [10, 20) of a disjunction
      // (reference TopDocsCollector.TopDocsRange)
      FtQueries.pageDF(s, d, BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, TermQuery("spark")),
        BooleanClause(Occur.SHOULD, TermQuery("window")))), offset = 10, howMany = 10)),
    "ft_search_after" -> ((s, d) => // cursor pagination (round-5): page 1 =
      // top-10, then searchAfter(last hit) for the next 5 — the
      // strictly-after predicate path, k-bounded heap at any depth (vs
      // ft_paged's offset window); oracle = rank rows [11, 15]
      FtQueries.searchAfterDF(s, d, BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, TermQuery("spark")),
        BooleanClause(Occur.SHOULD, TermQuery("window")))), afterK = 10, k = 5)),
    "ft_facets" -> ((s, d) => // facet counts (round-5, Lucene facet-module
      // analogue): lang value counts over ALL docs matching `merge vector`,
      // distributed match-set join + map-side partial count
      FtQueries.facetsDF(s, d, BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, TermQuery("vector")))), "lang")),
    "ft_sorted" -> ((s, d) => // sort-by-field top-k (round-5, Lucene
      // Sort/TopFieldCollector analogue): docs matching `merge` ordered by
      // repo DESC with docId tie-break, k=15 — TakeOrderedAndProject over
      // the match-set join, never a global sort
      FtQueries.sortedDF(s, d, TermQuery("merge"), "repo", 15, ascending = false)),
    "ft_grouped" -> ((s, d) => // result grouping (round-5, Lucene
      // grouping-module analogue): top-3 lang groups by best `merge spark`
      // hit, top-4 docs per group — per-group top-k heap + broadcast
      // group leaderboard, raw-float64 rank comparisons
      FtQueries.groupedDF(s, d, BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, TermQuery("spark")))), "lang",
        topGroups = 3, docsPerGroup = 4)),
    "ft_suggest" -> ((s, d) => // spell suggestions (round-5, Lucene
      // suggest/spellchecker analogue): dictionary terms within 2 classic
      // edits of the misspelling 'sart', ranked (dist, df desc, term) — the
      // df tie-break decides within dist 1; vocabulary-sized scan, postings
      // untouched
      FtQueries.suggestDF(s, d, "sart", maxEdits = 2, topN = 5)),
    "ft_filtered" -> ((s, d) => // Occur.FILTER / FilteredQuery (round-5; the
      // reference STUBS it — search.go:113-118 panics on a non-nil filter):
      // `vector` restricts the match set but contributes no score/coord/
      // queryNorm; merge|spark alone produce the score
      FtQueries.matches(s, d, FilteredQuery(BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, TermQuery("spark")))), TermQuery("vector")))),
    "ft_match_all" -> ((s, d) => // MatchAllDocsQuery (`*:*`, absent in the
      // reference): every LIVE doc at constant boost score over a delete
      // view — the pruned docs-table scan path, not the postings path
      FtQueries.matchesWithDeletes(s, d, MatchAllQuery(2.5f), 7)),
    "ft_dismax" -> ((s, d) => // DisjunctionMaxQuery (round-5; reference has
      // only the SUM disjunction): best-field max + tie×(sum−max), tie=0.5
      FtQueries.matches(s, d, DisMaxQuery(Seq(
        TermQuery("merge"), TermQuery("sort")), 0.5f))),
    "ft_constant" -> ((s, d) => // ConstantScoreQuery (round-5, absent in the
      // reference): inner disjunction gates, the constant is emitted
      // verbatim — no tf/idf/norm/queryNorm
      FtQueries.matches(s, d, ConstantScoreQuery(BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, TermQuery("vector")))), 3.25f))),
    "ft_sharded" -> ((s, d) => // sharded search (round-5, beyond-reference):
      // the corpus split doc_id%2 into TWO indexes, searched through
      // MultiSearcher with globally MERGED stats — the oracle recomputes
      // monolithic BM25 over the whole corpus, so a match proves idf/avgdl
      // merging is exact
      FtQueries.shardedMatches(s, d, BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("sort")),
        BooleanClause(Occur.SHOULD, TermQuery("vector")))))),
    "ft_sharded_wand" -> ((s, d) => // per-shard block-max WAND merged to a
      // global top-10 — pruned sharded search stays exact on docs/scores
      FtQueries.shardedWandTopK(s, d, BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, TermQuery("window")))), 10)),
    "ft_sharded_facets" -> ((s, d) => // facet counts ACROSS shards: the
      // single-index plan over the union of both shards' match sets and
      // docs columns — identical to the monolithic ft_facets twin
      FtQueries.shardedFacetsDF(s, d, BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, TermQuery("vector")))), "lang")),
    "ft_sharded_prefix" -> ((s, d) => // multi-term expansion ACROSS shards:
      // `c*` expands against the union of both shard dictionaries, expansion
      // terms score with cross-shard merged df — the oracle is the same
      // whole-corpus LIKE 'c%' twin as ft_prefix
      FtQueries.shardedMatches(s, d, PrefixQuery("c"))),
    "ft_hybrid" -> ((s, d) => // hybrid lexical+vector retrieval (round-5,
      // beyond-reference): BM25 top-50 for `merge spark` RRF-fused (k0=60)
      // with the cosine top-50 around embedding 0; ranks are scale-free so
      // no score calibration — the modern hybrid-serving pattern
      FtQueries.hybridDF(s, d, BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, TermQuery("spark")))),
        queryVecId = 0L, n = 50, k0 = 60, k = 10)),
    "ft_stored" -> ((s, d) => // stored-fields point read of the top-8 hits:
      // repo/lang columns + the sha256 content digest vs the source table
      FtQueries.storedTopDF(s, d, TermQuery("sort"), 8)),
    "ft_explain" -> ((s, d) => // Explanation root value == score, verified
      // against the SQL-computed score (not just search()'s own output)
      FtQueries.explainTopDF(s, d, BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, TermQuery("spark")))), 5)),
    "ft_sql_source" -> ((s, d) => { // the SQL-native DataSource V2 surface
      // end to end: CREATE VIEW USING graft-search → pure spark.sql reads
      val idx = FtQueries.indexPath(s, d)
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_hits USING `graft-search`
                OPTIONS (index '$idx', query 'merge sort', k '12',
                         mode 'exact', analyzer 'simple')""")
      s.sql("SELECT docId AS doc_id, round(score, 4) AS score_r FROM graft_hits ORDER BY doc_id")
    }),
    "ft_sql_sharded" -> ((s, d) => { // sharded search through pure SQL:
      // a comma-separated index list opens a MultiSearcher view (merged
      // global stats) — results must equal the monolithic rank window
      val dirs = FtQueries.shardPaths(s, d).mkString(",")
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_hits_sh USING `graft-search`
                OPTIONS (index '$dirs', query 'sort vector', k '12',
                         mode 'exact', analyzer 'simple')""")
      s.sql("SELECT docId AS doc_id, round(score, 4) AS score_r FROM graft_hits_sh ORDER BY doc_id")
    }),
    "ft_sql_wand" -> ((s, d) => { // WAND pruning through the SQL surface:
      // the wand 'true' option must still return the exact exhaustive top-k
      val idx = FtQueries.indexPath(s, d)
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_hits_w USING `graft-search`
                OPTIONS (index '$idx', query 'spark window batch', k '10',
                         mode 'exact', analyzer 'simple', wand 'true')""")
      s.sql("SELECT docId AS doc_id, round(score, 4) AS score_r FROM graft_hits_w ORDER BY doc_id")
    }),
    "ft_sql_tvf" -> ((s, d) => { // graft_search TABLE-VALUED function: top-k
      // directly in a FROM clause (SparkSessionExtensions injectTableFunction)
      graft.functions.GraftSearchTvf.register(s)
      val idx = FtQueries.indexPath(s, d)
      s.sql(s"""SELECT docId AS doc_id, round(score, 4) AS score_r
                FROM graft_search('$idx', 'merge sort', 12, 'bm25', 'exact')
                ORDER BY doc_id""")
    }),
    "ft_sql_tvf_wand" -> ((s, d) => { // TVF parity with the DSv2 source's
      // wand option (round-5): block-max pruning through the FROM clause
      // must return the exact exhaustive top-k
      graft.functions.GraftSearchTvf.register(s)
      val idx = FtQueries.indexPath(s, d)
      s.sql(s"""SELECT docId AS doc_id, round(score, 4) AS score_r
                FROM graft_search('$idx', 'spark window batch', 10, 'bm25', 'exact', 'true')
                ORDER BY doc_id""")
    }),
    "ft_wide_or" -> ((s, d) => // 20-term disjunction: evaluation breadth
      // (term-index routing, accumulator widths) under one oracle
      FtQueries.pageDF(s, d, BooleanQuery(
        wideTerms.map(t => BooleanClause(Occur.SHOULD, TermQuery(t)))),
        offset = 0, howMany = 15)),
    "ft_wand_topk" -> ((s, d) => // block-max WAND pruning vs the exhaustive
      // SQL ranking — pruned ≡ exhaustive on real data
      FtQueries.wandTopKDF(s, d, BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("spark")),
        BooleanClause(Occur.SHOULD, TermQuery("window")),
        BooleanClause(Occur.SHOULD, TermQuery("batch")))), 10)),
    "ft_wand_nested" -> ((s, d) => // WAND over a NESTED boolean (round-4:
      // recursive bound tree, no exhaustive fallback): spark OR (merge AND
      // sort), pruned ≡ the exhaustive SQL ranking
      FtQueries.wandTopKDF(s, d,
        new QueryParser(FtQueries.analyzer).parse("spark OR (merge AND sort)"), 10)),
    "ft_wand_phrase" -> ((s, d) => // WAND phrase bounds (round-4): a SHOULD
      // mix of terms and an exact phrase, pruned ≡ the exhaustive SQL ranking
      FtQueries.wandTopKDF(s, d, BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("spark")),
        BooleanClause(Occur.SHOULD, PhraseQuery(Seq("batch", "batch"))),
        BooleanClause(Occur.SHOULD, TermQuery("window")))), 10)),
    "ft_total_hits" -> ((s, d) => FtQueries.totalHitsDF(s, d, Seq(
      "and_merge_sort" -> BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("merge")),
        BooleanClause(Occur.MUST, TermQuery("sort")))),
      "or_merge_spark" -> BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, TermQuery("spark")))),
      "phrase_batch_batch" -> PhraseQuery(Seq("batch", "batch"))))),

    // ---- deduplication ----
    "dd_exact" -> ((s, d) => Dedup.exactDupGroups(docs(s, d), "text", "doc_id")
      .orderBy("content_md5").limit(20)),
    "dd_minhash_sig" -> ((s, d) =>
      Dedup.minhashSignatures(docs(s, d).where(col("doc_id") < 20), "text", "doc_id")
        .orderBy("doc_id", "seed")),
    "dd_lsh_pairs" -> ((s, d) =>
      Dedup.minhashLshPairs(docs(s, d), "text", "doc_id", tau = 0.05)
        .orderBy("id_a", "id_b")),
    "dd_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d), "text", "doc_id", tau = 0.01, maxId = 40L)
        .orderBy("id_a", "id_b")),
    "dd_simhash" -> ((s, d) => Dedup.simhash32(docs(s, d), "text", "doc_id")
      .orderBy("doc_id")),
    "dd_simhash_pairs" -> ((s, d) => // hamming ≤ 3 via pigeonhole band join
      Dedup.simhashPairs(docs(s, d), "text", "doc_id", maxDist = 3)
        .orderBy("id_a", "id_b")),
    "dd_components" -> ((s, d) => // cluster resolution over the near-dup
      // pair graph: min-id representative per connected component
      Dedup.connectedComponents(
        Dedup.minhashLshPairs(docs(s, d), "text", "doc_id", tau = 0.05))
        .orderBy("id")),
    "dd_survivors" -> ((s, d) => // the composed dedup pipeline's OUTPUT:
      // ids surviving exact + near-dup collapse
      Dedup.dedupSurvivors(docs(s, d), "text", "doc_id", tau = 0.05)
        .orderBy("doc_id")),
    "dd_embed_pairs" -> ((s, d) => // planes pinned (oracle models 4); the
      // library default is scale-aware (Dedup.autoPlanes)
      Dedup.embeddingNearDupPairs(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", tau = 0.25, planes = 4).orderBy("id_a", "id_b")),

    "dd_embed_survivors" -> ((s, d) => { // embedding-modality dedup output:
      // vectors surviving cosine near-dup clustering (min-id reps kept)
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val dropped = Dedup.connectedComponents(
        Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", tau = 0.25, planes = 4))
        .where(col("id") =!= col("rep")).select(col("id").as("vec_id"))
      e.select("vec_id").join(dropped, Seq("vec_id"), "left_anti").orderBy("vec_id")
    }),

    // ---- similarity search over embeddings ----
    "ann_cosine_topk" -> ((s, d) =>
      Ann.cosineTopK(s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding",
        queryMaxId = 5L, k = 5).orderBy("query_id", "rank")),
    "ann_lsh_topk" -> ((s, d) => // scale path; md5 hyperplanes → SQL-oracled
      Ann.lshCosineTopK(s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding",
        queryMaxId = 5L, k = 5).orderBy("query_id", "rank")),
    "ann_lsh_recall" -> ((s, d) =>
      Ann.lshRecallAtK(s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding",
        queryMaxId = 5L, k = 5).orderBy("query_id")),
    "ann_ivf_topk" -> ((s, d) =>
      Ann.ivfCosineTopK(s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding",
        queryMaxId = 5L, k = 5).orderBy("query_id", "rank")),
    "ann_ivf_index" -> ((s, d) => { // the PERSISTED serving-shape IVF path:
      // cid-partitioned assignment lists on disk, probes prune partitions
      // (fixed quantizer so the same SQL oracle applies)
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val path = s"${sys.props("java.io.tmpdir")}/graft_ivf_fix_" +
        graft.index.Hashing.sha256Hex(d).take(12)
      if (!new java.io.File(s"$path/assignments/_SUCCESS").exists())
        Ann.writeIvfIndex(e, "vec_id", "embedding", path,
          centroids = Some(Ann.fixedCentroids(e, "vec_id", "embedding")))
      Ann.ivfIndexTopK(s, path, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nprobe = 4).orderBy("query_id", "rank")
    }),
    "ann_ivf_recall" -> ((s, d) => // fixed-quantizer mode (oracle-stable);
      // the trained k-means path is spec-verified (AnnSpec)
      Ann.ivfRecallAtK(s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding",
        queryMaxId = 5L, k = 5).orderBy("query_id")),

    // ---- text analysis ----
    "ev_windowed" -> ((s, d) =>
      graft.streaming.StreamingStats.windowedCountsBatch(s.read.parquet(s"$d/events.parquet"))
        .orderBy("window_start", "event_type")),

    "ta_quality" -> ((s, d) => TextOps.quality(docs(s, d), "text", "doc_id").orderBy("doc_id")),
    "ta_langid" -> ((s, d) => TextOps.langId(docs(s, d), "text", "doc_id").orderBy("doc_id")),
    "ta_token_count" -> ((s, d) => TextOps.tokenCounts(docs(s, d), "text", "doc_id").orderBy("doc_id")),
    "ta_fingerprint" -> ((s, d) => TextOps.fingerprint(docs(s, d), "text", "doc_id").orderBy("doc_id")),
    "ta_commongrams" -> ((s, d) => TextOps.commonGramStats(docs(s, d), "text", "doc_id").orderBy("doc_id")),
    "ta_code_tokens" -> ((s, d) => // the tokenize_code Catalyst expression
      // (ICU UAX#29 + stop-filter with position gaps) vs the SQL token twin —
      // exact on this corpus, whose text is plain lowercase words (UAX#29 ≡
      // alphanumeric-run split there)
      docs(s, d).where(col("doc_id") < 30)
        .select(col("doc_id"),
          explode(graft.functions.Functions.tokenizeCode(col("text"))).as("t"))
        .select(col("doc_id"), col("t.pos").as("pos"), col("t.term").as("term"))
        .orderBy("doc_id", "pos")),

    "ta_sample" -> ((s, d) => // deterministic stratified sampling (data
      // mixing): per-language keep fractions via the md5-hex draw — a pure
      // row-local filter, reproducible at any cluster size
      TextOps.stratifiedSample(docs(s, d), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25), default = 0.1)
        .select("doc_id", "lang").orderBy("doc_id")),
    "ta_pack" -> ((s, d) => // greedy sequence packing into 512-token bins,
      // windowed per source (the training-context assembly shape)
      TextOps.packSequences(docs(s, d), "doc_id", "text", capacity = 512,
        partitionCol = Some("source")).orderBy("doc_id")),
    "ta_stemmed" -> ((s, d) => // Porter stemming end-to-end on corpus
      // tokens (round-4: the one analyzer chain previously sbt-only) via the
      // native porter_stem Catalyst expression; the oracle pins each vocab
      // word's stem HAND-DERIVED from the published algorithm (PorterSpec
      // pins 60+ paper vectors independently)
      docs(s, d).where(col("doc_id") < 40)
        .select(col("doc_id"),
          explode(graft.functions.Functions.tokenizeCode(col("text"))).as("t"))
        .select(col("doc_id"), col("t.pos").as("pos"), col("t.term").as("term"))
        .where(col("term").isin(SparkEntry.stemVocab.map(_._1): _*))
        .withColumn("stem", graft.functions.Functions.porterStem(col("term")))
        .orderBy("doc_id", "pos")),

    "ta_english" -> ((s, d) => { // the COMPOSED EnglishAnalyzer chain
      // (standard tokenize → possessive strip → stop → Porter) end-to-end
      // (round-5: the composition was sbt-only): corpus vocab words, every
      // even-position occurrence dressed with a possessive 's — the chain
      // must strip it and land on the SAME hand-derived stem
      import s.implicits._
      val base = docs(s, d).where(col("doc_id") < 30)
        .select(col("doc_id"),
          explode(graft.functions.Functions.tokenizeCode(col("text"))).as("t"))
        .select(col("doc_id"), col("t.pos").as("pos"), col("t.term").as("term"))
        .where(col("term").isin(SparkEntry.stemVocab.map(_._1): _*))
        .withColumn("w",
          when(col("pos") % 2 === 0, concat(col("term"), lit("'s")))
            .otherwise(col("term")))
      val aB = s.sparkContext.broadcast(new graft.analysis.EnglishAnalyzer())
      base.as[(Long, Int, String, String)]
        .mapPartitions { it =>
          val a = aB.value
          it.map { case (id, p, t, w) =>
            (id, p, t, a(w).tokens.map(_.term).mkString(" "))
          }
        }
        .toDF("doc_id", "pos", "term", "stem")
        .orderBy("doc_id", "pos")
    }),
    "ta_icu_quotes" -> ((s, d) => // ICU UAX#29 single-quote rules pinned
      // OUTSIDE sbt (round-5): apostrophes stay INSIDE words (MidLetter),
      // stopword drop still advances positions ('the' at slot 1)
      docs(s, d).where(col("doc_id") < 10)
        .select(col("doc_id"), explode(graft.functions.Functions.tokenizeCode(
          lit("can't the dog's it's o'clock"))).as("t"))
        .select(col("doc_id"), col("t.pos").as("pos"), col("t.term").as("term"))
        .orderBy("doc_id", "pos")),

    // ---- multimodal (binary columns; decode stubbed, plumbing real) ----
    "mm_blob_stats" -> ((s, d) => Multimodal.blobStats(docs(s, d), "doc_id", "text")
      .orderBy("doc_id")),
    "mm_decode_meta" -> ((s, d) =>
      Multimodal.decodeBlobs(s, Multimodal.toBlobTable(docs(s, d), "doc_id", "text"))
        .toDF("id", "n_bytes", "sha256", "format", "width", "height", "n_frames")
        .orderBy("id")),
    "mm_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(docs(s, d), "doc_id", "text", k = 5).orderBy("doc_id")),
    "mm_resize" -> ((s, d) => // aspect-preserving fit of decoded dims into a
      // 224-box (exact geometry; resample itself is the binding's job)
      Multimodal.resizePlan(s, Multimodal.toBlobTable(docs(s, d), "doc_id", "text"))
        .orderBy("id")),
    "mm_features" -> ((s, d) => // per-partition "model" batch inference shape
      Multimodal.extractFeatures(s, Multimodal.toBlobTable(docs(s, d), "doc_id", "text"))
        .orderBy("id")))

  private def docs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")

  /** (word, stem) pairs HAND-DERIVED from the published Porter rules (step
    * citations inline) — the oracle's independent ground truth; Porter.stem
    * never generates these.
    */
  private[graft] val stemVocab: Seq[(String, String)] = Seq(
    "merge" -> "merg", // 5a: m=1, 'merg' not *o (n-3 'e' vowel) → drop e
    "batch" -> "batch", // no rule fires
    "data" -> "data", // no rule fires
    "window" -> "window", // no rule fires
    "sort" -> "sort", // no rule fires
    "query" -> "queri", // 1c: ends y, stem has a vowel → i
    "table" -> "tabl", // 5a: m=1, 'tabl' not *o (n-3 'a' vowel) → drop e
    "line" -> "line", // 5a: m=1 but 'lin' IS *o (l-i-n, n∉wxy) → keep e
    "value" -> "valu", // 5a: m=1, 'valu' ends vowel → not *o → drop e
    "order" -> "order", // 4 'er': stem 'ord' m=1, needs m>1 → keep
    "filter" -> "filter") // 4 'er': stem 'filt' m=1, needs m>1 → keep

  // ---------------- DuckDB oracle SQL ----------------

  private def termScore(t: String): String = scoreSql(s"f_$t", s"idf_$t")

  /** CTE computing per-doc freq + idf columns for the given terms. */
  private def ftBase(terms: Seq[String]): String = {
    val fCols = terms.map(t => s"${freqCol(t)} AS f_$t").mkString(", ")
    val idfCols = terms.map(t => s"${idfSql(t)} AS idf_$t").mkString(", ")
    s"""$prelude, base AS (
       |  SELECT doc_id, tk, tk_all, $fCols, $idfCols
       |  FROM docs
       |)""".stripMargin
  }

  /** CTEs for the second ANALYZED field (path = source || ' ' || lang
    * [|| ' xtra' on doc_id%5=0] — FtQueries' derived column), with the
    * engine's post-stop token counting. The values never contain stopwords,
    * so filtered token indexes double as positions for the phrase twin.
    */
  private val pathCtes =
    s"""pfld AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(source || ' ' || lang || CASE WHEN doc_id % 5 = 0 THEN ' xtra' ELSE '' END), '[^a-z0-9]+'),
       |      x -> x <> '' AND x NOT IN (${TextOpsOracle.stopSql})) AS ptk
       |  FROM documents
       |), pg AS (
       |  SELECT CAST(sum(len(ptk)) AS DOUBLE) / (SELECT n FROM g) AS pavgdl FROM pfld
       |)""".stripMargin

  /** CTEs for the ARBITRARY-COLUMN analyzed field `body` (first 12
    * whitespace words of the doc text — FtQueries' derived input column,
    * indexed via the lifted analyzedFields gate), with the engine's
    * post-stop token counting.
    */
  private val bodyCtes =
    s"""bfld AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ')), '[^a-z0-9]+'),
       |      x -> x <> '' AND x NOT IN (${TextOpsOracle.stopSql})) AS btk
       |  FROM documents
       |), bg AS (
       |  SELECT CAST(sum(len(btk)) AS DOUBLE) / (SELECT n FROM g) AS bavgdl FROM bfld
       |)""".stripMargin

  /** idf over the body field's df (float64, engine-identical expression). */
  private def bidf(t: String): String =
    s"""ln(1 + ((SELECT n FROM g) - (SELECT CAST(count(*) AS DOUBLE) FROM bfld WHERE list_contains(btk, '$t')) + 0.5)
       | / ((SELECT CAST(count(*) AS DOUBLE) FROM bfld WHERE list_contains(btk, '$t')) + 0.5))""".stripMargin.replace("\n", "")

  /** BM25 over the body field's dl/avgdl (engine ExactScorer shape). */
  private def bscore(fExpr: String, idfExpr: String): String =
    s"($idfExpr * ((CAST($fExpr AS DOUBLE) * (1.2 + 1)) / " +
      s"(CAST($fExpr AS DOUBLE) + 1.2 * ((1 - 0.75) + (0.75 * CAST(len(btk) AS DOUBLE)) / (SELECT bavgdl FROM bg)))))"

  /** idf over the path field's df (float64, engine-identical expression). */
  private def pidf(t: String): String =
    s"""ln(1 + ((SELECT n FROM g) - (SELECT CAST(count(*) AS DOUBLE) FROM pfld WHERE list_contains(ptk, '$t')) + 0.5)
       | / ((SELECT CAST(count(*) AS DOUBLE) FROM pfld WHERE list_contains(ptk, '$t')) + 0.5))""".stripMargin.replace("\n", "")

  /** BM25 over the path field's dl/avgdl (engine ExactScorer shape). */
  private def pscore(fExpr: String, idfExpr: String): String =
    s"($idfExpr * ((CAST($fExpr AS DOUBLE) * (1.2 + 1)) / " +
      s"(CAST($fExpr AS DOUBLE) + 1.2 * ((1 - 0.75) + (0.75 * CAST(len(ptk) AS DOUBLE)) / (SELECT pavgdl FROM pg)))))"

  // exact SQL twin of TextOps.tokens (regexp split, not space split — agrees
  // with the engine on ANY corpus, not just space-separated fixtures)
  private val pipelinePrelude =
    s"""WITH raw AS (
       |  SELECT doc_id, text, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
       |  FROM documents
       |)""".stripMargin

  private def shinglesCte(src: String = "raw") =
    s"""shing AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(tk) >= 3
       |      THEN list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
       |      ELSE CAST([] AS VARCHAR[]) END) AS shs
       |  FROM $src
       |)""".stripMargin

  private val sigCte =
    s"""sig AS (
       |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || '|' || sh)) AS minhash
       |  FROM (SELECT doc_id, unnest(shs) AS sh FROM shing),
       |       (SELECT unnest([0,1,2,3,4,5,6,7]) AS seed)
       |  GROUP BY doc_id, seed
       |)""".stripMargin

  /** Recursive-closure connected components over a preceding `pairs(id_a,
    * id_b)` CTE: yields `comp(id, rep)` with rep = component min (requires
    * the WITH list to be RECURSIVE). Shared by every *_components /
    * *_survivors oracle so the closure shape cannot drift between them.
    */
  private val closureCtes =
    s"""edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b, id_a FROM pairs
       |), verts AS (SELECT DISTINCT src AS id FROM edges),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
       |), comp AS (
       |  SELECT v.id AS id, least(v.id, min(r.dst)) AS rep
       |  FROM verts v JOIN reach r ON r.src = v.id GROUP BY v.id
       |)""".stripMargin

  /** MinHash-LSH near-dup `pairs(id_a, id_b)` derivation (rep collapse →
    * shingles → signatures → bands → verified pairs at τ=0.05) — the CTE
    * chain dd_lsh_pairs models, shared by the components/survivors oracles.
    */
  private def lshPairsCtes = // def: shinglesCte/sigCte are initialized later
    s"""reps AS (
       |  SELECT min(doc_id) AS doc_id
       |  FROM (SELECT doc_id, md5(text) AS c FROM documents) GROUP BY c
       |), rawr AS (
       |  SELECT raw.* FROM raw JOIN reps USING (doc_id)
       |), ${shinglesCte("rawr")}, $sigCte, bands AS (
       |  SELECT doc_id, CAST(floor(seed / 2.0) AS INT) AS band,
       |         string_agg(minhash, ',' ORDER BY seed) AS band_key
       |  FROM sig GROUP BY doc_id, band
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b USING (band, band_key)
       |  WHERE a.doc_id < b.doc_id
       |), pairs AS (
       |  SELECT id_a, id_b
       |  FROM cand JOIN shing sa ON sa.doc_id = id_a JOIN shing sb ON sb.doc_id = id_b
       |  WHERE floor((CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(sa.shs, sb.shs))) AS DOUBLE)) * 10000 + 0.5) / 10000 >= 0.05
       |)""".stripMargin

  private val dotSql = (a: String, b: String) =>
    s"list_reduce(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"

  /** LSH bucket CTEs shared by ann_lsh_topk / ann_lsh_recall: sign of
    * hyperplane component (tbl, p, i) = high bit of md5("tbl|p|i") — exactly
    * the engine expression in pipeline/Ann.lshKey.
    */
  private val lshSignSql =
    "CASE WHEN substr(md5(CAST(tbl AS VARCHAR) || '|' || CAST(p AS VARCHAR) || '|' || CAST(i-1 AS VARCHAR)),1,1) " +
      "IN ('8','9','a','b','c','d','e','f') THEN 1.0 ELSE -1.0 END"

  private val lshCtes =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), buck AS (
       |  SELECT vec_id, tbl,
       |    CAST(list_sum(list_transform(range(0, 8), p ->
       |      CASE WHEN list_reduce(list_transform(range(1, len(embedding)+1), i ->
       |          CAST(embedding[i] AS DOUBLE) * ($lshSignSql)),
       |        (x,y) -> x+y) >= 0
       |      THEN CAST(pow(2, p) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
       |  FROM n, (SELECT unnest([0,1,2,3]) AS tbl)
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM buck q JOIN buck c USING (tbl, bucket)
       |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
       |), lsh_scored AS (
       |  SELECT query_id, neighbor_id,
       |    round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4) AS cosine
       |  FROM cand JOIN n a ON a.vec_id = query_id JOIN n b ON b.vec_id = neighbor_id
       |), lsh_ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM lsh_scored
       |)""".stripMargin

  /** IVF CTEs shared by ann_ivf_topk / ann_ivf_recall (fixed lowest-id
    * quantizer - exactly the engine's oracle-stable default).
    */
  private val ivfCtes =
    s"""WITH n AS (
         |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings
         |), cents AS (
         |  SELECT vec_id AS cid, embedding AS cv, nrm AS cn FROM n WHERE vec_id < 16
         |), ac AS (
         |  SELECT a.vec_id AS neighbor_id, a.embedding AS nv, a.nrm AS nn, c.cid,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${dotSql("a.embedding", "c.cv")} / (a.nrm * c.cn) DESC, c.cid) AS arank
         |  FROM n a, cents c
         |), assigned AS (
         |  SELECT neighbor_id, nv, nn, cid FROM ac WHERE arank = 1
         |), pr AS (
         |  SELECT q.vec_id AS query_id, q.embedding AS qv, q.nrm AS qn, c.cid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${dotSql("q.embedding", "c.cv")} / (q.nrm * c.cn) DESC, c.cid) AS prank
         |  FROM (SELECT * FROM n WHERE vec_id < 5) q, cents c
         |), probes AS (
         |  SELECT query_id, qv, qn, cid FROM pr WHERE prank <= 4
         |), ivf_scored AS (
         |  SELECT query_id, neighbor_id, round(${dotSql("qv", "nv")} / (qn * nn), 4) AS cosine
         |  FROM probes JOIN assigned USING (cid) WHERE query_id <> neighbor_id
         |), ivf_ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM ivf_scored
         |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ft_term_stats" ->
      s"""$prelude
         |SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(f) AS BIGINT) AS ttf
         |FROM (SELECT doc_id, tok AS term, count(*) AS f
         |      FROM (SELECT doc_id, unnest(tk) AS tok FROM docs)
         |      WHERE tok IN (${statTerms.map(t => s"'$t'").mkString(",")})
         |      GROUP BY doc_id, tok)
         |GROUP BY term ORDER BY term""".stripMargin,
    "ft_term_topk" ->
      s"""${ftBase(Seq("merge"))}
         |SELECT doc_id, round(${termScore("merge")}, 4) AS score_r
         |FROM base WHERE f_merge > 0
         |ORDER BY score_r DESC, doc_id LIMIT 10""".stripMargin,
    "ft_bool_and" ->
      s"""${ftBase(Seq("merge", "sort"))}
         |SELECT doc_id, round(${termScore("merge")} + ${termScore("sort")}, 4) AS score_r
         |FROM base WHERE f_merge > 0 AND f_sort > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_bool_or_topk" ->
      s"""${ftBase(Seq("merge", "spark", "window"))}
         |SELECT doc_id, round(
         |  CASE WHEN f_merge > 0 THEN ${termScore("merge")} ELSE 0 END
         |  + CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END
         |  + CASE WHEN f_window > 0 THEN ${termScore("window")} ELSE 0 END, 4) AS score_r
         |FROM base WHERE f_merge > 0 OR f_spark > 0 OR f_window > 0
         |ORDER BY score_r DESC, doc_id LIMIT 10""".stripMargin,
    "ft_req_excl" ->
      s"""${ftBase(Seq("merge", "spark"))}
         |SELECT doc_id, round(${termScore("merge")}, 4) AS score_r
         |FROM base WHERE f_merge > 0 AND f_spark = 0
         |ORDER BY doc_id""".stripMargin,
    "ft_msm" ->
      s"""${ftBase(Seq("merge", "sort", "window"))}
         |SELECT doc_id, round(
         |  CASE WHEN f_merge > 0 THEN ${termScore("merge")} ELSE 0 END
         |  + CASE WHEN f_sort > 0 THEN ${termScore("sort")} ELSE 0 END
         |  + CASE WHEN f_window > 0 THEN ${termScore("window")} ELSE 0 END, 4) AS score_r
         |FROM base
         |WHERE (CASE WHEN f_merge > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN f_sort > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN f_window > 0 THEN 1 ELSE 0 END) >= 2
         |ORDER BY doc_id""".stripMargin,
    "ft_phrase" ->
      s"""${ftBase(Seq("batch"))}, ph AS (
         |  SELECT doc_id, tk,
         |    len(list_filter(range(1, len(tk_all)), i -> tk_all[i] = 'batch' AND tk_all[i+1] = 'batch')) AS pf,
         |    idf_batch
         |  FROM base
         |)
         |SELECT doc_id, round(${scoreSql("pf", "(idf_batch + idf_batch)")}, 4) AS score_r
         |FROM ph WHERE pf > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_phrase_slop" -> // engine sloppy spec: anchor a on term0's positions,
      // each later term i snaps to its nearest position around a+i, total
      // displacement ≤ slop; pf = #matching anchors; weight = Σ member idf
      s"""${ftBase(Seq("batch", "data"))}, ps AS (
         |  SELECT doc_id, tk, idf_batch, idf_data,
         |    list_filter(range(1, len(tk_all)+1), i -> tk_all[i] = 'batch') AS pa,
         |    list_filter(range(1, len(tk_all)+1), i -> tk_all[i] = 'data') AS pb
         |  FROM base
         |), ph AS (
         |  SELECT doc_id, tk, idf_batch, idf_data,
         |    len(list_filter(pa, a -> len(pb) > 0 AND
         |      list_min(list_transform(pb, b -> abs(b - (a+1)))) <= 2)) AS pf
         |  FROM ps
         |)
         |SELECT doc_id, round(${scoreSql("pf", "(idf_batch + idf_data)")}, 4) AS score_r
         |FROM ph WHERE pf > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_parsed" ->
      s"""${ftBase(Seq("spark", "merge", "sort"))}
         |SELECT doc_id, round(
         |  CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END
         |  + CASE WHEN f_merge > 0 AND f_sort > 0 THEN (${termScore("merge")} + ${termScore("sort")}) ELSE 0 END, 4) AS score_r
         |FROM base WHERE f_spark > 0 OR (f_merge > 0 AND f_sort > 0)
         |ORDER BY score_r DESC, doc_id LIMIT 10""".stripMargin,
    "ft_deletes" ->
      s"""${ftBase(Seq("merge"))}
         |SELECT doc_id, round(${termScore("merge")}, 4) AS score_r
         |FROM base WHERE f_merge > 0 AND doc_id % 10 <> 0
         |ORDER BY doc_id""".stripMargin,
    "ft_prefix" -> // expansion derived IN SQL via LIKE 'c%' (df per matched
      // term recomputed from scratch); per-doc sum has ≤2 nonzero terms on
      // this vocabulary → float64-exact regardless of SUM order
      s"""$prelude, tdf AS (
         |  SELECT term, CAST(count(*) AS DOUBLE) AS df
         |  FROM (SELECT DISTINCT doc_id, tok AS term
         |        FROM (SELECT doc_id, unnest(tk) AS tok FROM docs) WHERE tok LIKE 'c%')
         |  GROUP BY term
         |), perdoc AS (
         |  SELECT d.doc_id, t.term, t.df,
         |    len(list_filter(d.tk, x -> x = t.term)) AS f, len(d.tk) AS dl
         |  FROM docs d, tdf t
         |), sc AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN f > 0 THEN
         |      (ln(1 + ((SELECT n FROM g) - df + 0.5) / (df + 0.5))
         |       * ((CAST(f AS DOUBLE) * (1.2 + 1)) /
         |          (CAST(f AS DOUBLE) + 1.2 * ((1 - 0.75) + (0.75 * CAST(dl AS DOUBLE)) / (SELECT avgdl FROM g)))))
         |      ELSE 0 END) AS score,
         |    count(*) FILTER (f > 0) AS nm
         |  FROM perdoc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 4) AS score_r
         |FROM sc WHERE nm > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_sharded_facets" -> // same whole-corpus twin as ft_facets — the
      // engine sums per-shard value counts
      s"""$prelude
         |SELECT d.lang AS lang, CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents d
         |JOIN docs t ON d.doc_id = t.doc_id
         |WHERE len(list_filter(t.tk, x -> x = 'merge')) > 0
         |   OR len(list_filter(t.tk, x -> x = 'vector')) > 0
         |GROUP BY d.lang
         |ORDER BY n_docs DESC, lang""".stripMargin,
    "ft_sharded_prefix" -> // same whole-corpus twin as ft_prefix — the
      // engine answers from two shards with union expansion + merged stats
      s"""$prelude, tdf AS (
         |  SELECT term, CAST(count(*) AS DOUBLE) AS df
         |  FROM (SELECT DISTINCT doc_id, tok AS term
         |        FROM (SELECT doc_id, unnest(tk) AS tok FROM docs) WHERE tok LIKE 'c%')
         |  GROUP BY term
         |), perdoc AS (
         |  SELECT d.doc_id, t.term, t.df,
         |    len(list_filter(d.tk, x -> x = t.term)) AS f, len(d.tk) AS dl
         |  FROM docs d, tdf t
         |), sc AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN f > 0 THEN
         |      (ln(1 + ((SELECT n FROM g) - df + 0.5) / (df + 0.5))
         |       * ((CAST(f AS DOUBLE) * (1.2 + 1)) /
         |          (CAST(f AS DOUBLE) + 1.2 * ((1 - 0.75) + (0.75 * CAST(dl AS DOUBLE)) / (SELECT avgdl FROM g)))))
         |      ELSE 0 END) AS score,
         |    count(*) FILTER (f > 0) AS nm
         |  FROM perdoc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 4) AS score_r
         |FROM sc WHERE nm > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_wildcard" -> // expansion derived IN SQL via LIKE '%ue%' (same
      // per-term df/score recomputation as ft_prefix)
      s"""$prelude, tdf AS (
         |  SELECT term, CAST(count(*) AS DOUBLE) AS df
         |  FROM (SELECT DISTINCT doc_id, tok AS term
         |        FROM (SELECT doc_id, unnest(tk) AS tok FROM docs) WHERE tok LIKE '%ue%')
         |  GROUP BY term
         |), perdoc AS (
         |  SELECT d.doc_id, t.term, t.df,
         |    len(list_filter(d.tk, x -> x = t.term)) AS f, len(d.tk) AS dl
         |  FROM docs d, tdf t
         |), sc AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN f > 0 THEN
         |      (ln(1 + ((SELECT n FROM g) - df + 0.5) / (df + 0.5))
         |       * ((CAST(f AS DOUBLE) * (1.2 + 1)) /
         |          (CAST(f AS DOUBLE) + 1.2 * ((1 - 0.75) + (0.75 * CAST(dl AS DOUBLE)) / (SELECT avgdl FROM g)))))
         |      ELSE 0 END) AS score,
         |    count(*) FILTER (f > 0) AS nm
         |  FROM perdoc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 4) AS score_r
         |FROM sc WHERE nm > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_mlt" -> // MLT disjunction over {data, dup, merge, vector}: the
      // CASE chain sums in the engine's term-sorted clause order
      s"""${ftBase(Seq("data", "dup", "merge", "vector"))}, sc AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN f_data > 0 THEN ${termScore("data")} ELSE 0 END
         |    + CASE WHEN f_dup > 0 THEN ${termScore("dup")} ELSE 0 END
         |    + CASE WHEN f_merge > 0 THEN ${termScore("merge")} ELSE 0 END
         |    + CASE WHEN f_vector > 0 THEN ${termScore("vector")} ELSE 0 END AS s
         |  FROM base WHERE f_data > 0 OR f_dup > 0 OR f_merge > 0 OR f_vector > 0
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM sc
         |ORDER BY doc_id""".stripMargin,
    "ft_regexp" -> // expansion recomputed via DuckDB regexp_full_match
      // (pattern in the Java∩RE2 common subset; same per-term df/score
      // recomputation as ft_wildcard)
      s"""$prelude, tdf AS (
         |  SELECT term, CAST(count(*) AS DOUBLE) AS df
         |  FROM (SELECT DISTINCT doc_id, tok AS term
         |        FROM (SELECT doc_id, unnest(tk) AS tok FROM docs) WHERE regexp_full_match(tok, 's[ct][a-z]+'))
         |  GROUP BY term
         |), perdoc AS (
         |  SELECT d.doc_id, t.term, t.df,
         |    len(list_filter(d.tk, x -> x = t.term)) AS f, len(d.tk) AS dl
         |  FROM docs d, tdf t
         |), sc AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN f > 0 THEN
         |      (ln(1 + ((SELECT n FROM g) - df + 0.5) / (df + 0.5))
         |       * ((CAST(f AS DOUBLE) * (1.2 + 1)) /
         |          (CAST(f AS DOUBLE) + 1.2 * ((1 - 0.75) + (0.75 * CAST(dl AS DOUBLE)) / (SELECT avgdl FROM g)))))
         |      ELSE 0 END) AS score,
         |    count(*) FILTER (f > 0) AS nm
         |  FROM perdoc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 4) AS score_r
         |FROM sc WHERE nm > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_boosted" -> // boost multiplies OUTSIDE in SQL: legal bit-for-bit
      // because 2.0 is a power of two (see the queries-side note)
      s"""$prelude, tdf AS (
         |  SELECT term, CAST(count(*) AS DOUBLE) AS df,
         |    CASE term WHEN 'vector' THEN CAST(2.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS bst
         |  FROM (SELECT DISTINCT doc_id, tok AS term
         |        FROM (SELECT doc_id, unnest(tk) AS tok FROM docs) WHERE tok IN ('vector', 'merge'))
         |  GROUP BY term
         |), perdoc AS (
         |  SELECT d.doc_id, t.term, t.df, t.bst,
         |    len(list_filter(d.tk, x -> x = t.term)) AS f, len(d.tk) AS dl
         |  FROM docs d, tdf t
         |), sc AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN f > 0 THEN
         |      bst * (ln(1 + ((SELECT n FROM g) - df + 0.5) / (df + 0.5))
         |       * ((CAST(f AS DOUBLE) * (1.2 + 1)) /
         |          (CAST(f AS DOUBLE) + 1.2 * ((1 - 0.75) + (0.75 * CAST(dl AS DOUBLE)) / (SELECT avgdl FROM g)))))
         |      ELSE 0 END) AS score,
         |    count(*) FILTER (f > 0) AS nm
         |  FROM perdoc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 4) AS score_r
         |FROM sc WHERE nm > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_fuzzy" -> // expansion via DuckDB levenshtein (the engine's distance
      // is classic Levenshtein precisely so both sides agree)
      s"""$prelude, tdf AS (
         |  SELECT term, CAST(count(*) AS DOUBLE) AS df
         |  FROM (SELECT DISTINCT doc_id, tok AS term
         |        FROM (SELECT doc_id, unnest(tk) AS tok FROM docs) WHERE levenshtein(tok, 'vale') <= 2)
         |  GROUP BY term
         |), perdoc AS (
         |  SELECT d.doc_id, t.term, t.df,
         |    len(list_filter(d.tk, x -> x = t.term)) AS f, len(d.tk) AS dl
         |  FROM docs d, tdf t
         |), sc AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN f > 0 THEN
         |      (ln(1 + ((SELECT n FROM g) - df + 0.5) / (df + 0.5))
         |       * ((CAST(f AS DOUBLE) * (1.2 + 1)) /
         |          (CAST(f AS DOUBLE) + 1.2 * ((1 - 0.75) + (0.75 * CAST(dl AS DOUBLE)) / (SELECT avgdl FROM g)))))
         |      ELSE 0 END) AS score,
         |    count(*) FILTER (f > 0) AS nm
         |  FROM perdoc GROUP BY doc_id
         |)
         |SELECT doc_id, round(score, 4) AS score_r
         |FROM sc WHERE nm > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_range" -> // commit BETWEEN '100' AND '104' lexicographically (SQL
      // string comparison == the dictionary's term order); every match is a
      // df=1 singleton at freq=1, dl=1, avgdl(commit)=1 → idf-only score
      s"""$prelude
         |SELECT doc_id, round(
         |  (ln(1 + ((SELECT n FROM g) - 1.0 + 0.5) / (1.0 + 0.5))
         |   * ((1.0 * (1.2 + 1)) / (1.0 + 1.2 * ((1 - 0.75) + (0.75 * 1.0) /
         |      ((SELECT CAST(count(*) AS DOUBLE) FROM documents) / (SELECT n FROM g)))))), 4) AS score_r
         |FROM documents
         |WHERE CAST(doc_id AS VARCHAR) BETWEEN '100' AND '104'
         |ORDER BY doc_id""".stripMargin,
    "ft_prefix_singleton" -> // commit LIKE '42%': every matched term df=1,
      // freq=1, dl=1, avgdl(commit)=1 → identical idf-only scores; top-20 =
      // smallest 20 matching doc_ids (tie-break docId asc)
      s"""$prelude
         |SELECT doc_id, score_r FROM (
         |  SELECT doc_id, round(
         |    (ln(1 + ((SELECT n FROM g) - 1.0 + 0.5) / (1.0 + 0.5))
         |     * ((1.0 * (1.2 + 1)) / (1.0 + 1.2 * ((1 - 0.75) + (0.75 * 1.0) /
         |        ((SELECT CAST(count(*) AS DOUBLE) FROM documents) / (SELECT n FROM g)))))), 4) AS score_r
         |  FROM documents WHERE CAST(doc_id AS VARCHAR) LIKE '42%'
         |  ORDER BY score_r DESC, doc_id LIMIT 20
         |) ORDER BY doc_id""".stripMargin,
    "ft_offsets" -> // offsets in the space-joined content: start of token i
      // (1-based) = Σ len(t_1..t_{i-1}) + (i-1) separators; end = start+len
      s"""WITH raw AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tka
         |  FROM documents
         |), occ AS (
         |  SELECT doc_id, i,
         |    CAST(coalesce(list_sum(list_transform(list_slice(tka, 1, i - 1), t -> len(t))), 0) + (i - 1) AS BIGINT) AS start_off,
         |    CAST(len(tka[i]) AS BIGINT) AS tok_len
         |  FROM (SELECT doc_id, tka, unnest(range(1, len(tka) + 1)) AS i FROM raw)
         |  WHERE tka[i] = 'merge'
         |)
         |SELECT doc_id, start_off, start_off + tok_len AS end_off
         |FROM occ ORDER BY doc_id, start_off""".stripMargin,
    "ft_snippets" -> // best window = argmax over span-start anchors of
      // #starts in [a, a+80), tie → smallest anchor (Snippets.bestWindow's
      // defined spec) — recomputed via self-join arithmetic
      s"""WITH raw AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tka
         |  FROM documents
         |), occ AS (
         |  SELECT doc_id,
         |    CAST(coalesce(list_sum(list_transform(list_slice(tka, 1, i - 1), t -> len(t))), 0) + (i - 1) AS BIGINT) AS start_off
         |  FROM (SELECT doc_id, tka, unnest(range(1, len(tka) + 1)) AS i FROM raw)
         |  WHERE tka[i] = 'merge'
         |), cand AS (
         |  SELECT a.doc_id, a.start_off AS anchor, CAST(count(*) AS BIGINT) AS n
         |  FROM occ a JOIN occ b ON b.doc_id = a.doc_id
         |    AND b.start_off >= a.start_off AND b.start_off < a.start_off + 80
         |  GROUP BY a.doc_id, a.start_off
         |), best AS (
         |  SELECT doc_id, anchor, n,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, anchor) AS rn
         |  FROM cand
         |)
         |SELECT doc_id, anchor AS win_start, n AS n_matches
         |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "ft_singleton" -> // commit:'42' → df=1, freq=1, dl=1, avgdl(commit)=1
      s"""$prelude, cf AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS df FROM documents WHERE CAST(doc_id AS VARCHAR) = '42'
         |), ct AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS ttf FROM documents
         |)
         |SELECT doc_id, round(
         |  (ln(1 + ((SELECT n FROM g) - (SELECT df FROM cf) + 0.5) / ((SELECT df FROM cf) + 0.5))
         |   * ((1.0 * (1.2 + 1)) / (1.0 + 1.2 * ((1 - 0.75) + (0.75 * 1.0) / ((SELECT ttf FROM ct) / (SELECT n FROM g)))))), 4) AS score_r
         |FROM documents WHERE CAST(doc_id AS VARCHAR) = '42'
         |ORDER BY doc_id""".stripMargin,
    "ft_merged" -> // identical scores to a single-shot build: merge preserves
      // postings and stats exactly
      s"""${ftBase(Seq("window"))}
         |SELECT doc_id, round(${termScore("window")}, 4) AS score_r
         |FROM base WHERE f_window > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_merged_log" -> // log-policy merge preserves postings/stats exactly:
      // identical scores to a single-shot build
      s"""${ftBase(Seq("group"))}
         |SELECT doc_id, round(${termScore("group")}, 4) AS score_r
         |FROM base WHERE f_group > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_merged_deletes" -> // post-reclaim scores == BM25 over the SURVIVOR
      // corpus: every stat (N, avgdl, df) recomputed from doc_id % 5 <> 0
      s"""${ftBase(Seq("window")).replace("FROM documents", "FROM documents WHERE doc_id % 5 <> 0")}
         |SELECT doc_id, round(${termScore("window")}, 4) AS score_r
         |FROM base WHERE f_window > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_lm_jm" -> // λ as widened float32; s=ln(1+((1-λ)f/dl)/(λp))+ln(λ)
      s"""${ftBase(Seq("batch"))}, lj AS (
         |  SELECT CAST(CAST(0.1 AS REAL) AS DOUBLE) AS l,
         |    CAST((SELECT sum(${freqCol("batch")}) FROM docs) + 1 AS DOUBLE) /
         |    CAST((SELECT sum(len(tk)) FROM docs) + 1 AS DOUBLE) AS p
         |)
         |SELECT doc_id, round(
         |  (ln(1 + (((1 - (SELECT l FROM lj)) * CAST(f_batch AS DOUBLE)) / CAST(len(tk) AS DOUBLE))
         |        / ((SELECT l FROM lj) * (SELECT p FROM lj)))
         |   + ln((SELECT l FROM lj))), 4) AS score_r
         |FROM base WHERE f_batch > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_streamed" -> // batch+streamed halves must score as one corpus
      s"""${ftBase(Seq("batch"))}
         |SELECT doc_id, round(${termScore("batch")}, 4) AS score_r
         |FROM base WHERE f_batch > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_field_stats" ->
      s"""$prelude, $pathCtes, $bodyCtes
         |SELECT * FROM (
         |  SELECT 'body' AS field,
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents) AS max_doc,
         |    (SELECT CAST(count(*) AS BIGINT) FROM bfld WHERE len(btk) > 0) AS doc_count,
         |    (SELECT CAST(sum(len(btk)) AS BIGINT) FROM bfld) AS sum_ttf,
         |    (SELECT CAST(sum(len(list_distinct(btk))) AS BIGINT) FROM bfld) AS sum_df,
         |    (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM (SELECT unnest(btk) AS tok FROM bfld)) AS n_terms
         |  UNION ALL
         |  SELECT 'content' AS field,
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents) AS max_doc,
         |    (SELECT CAST(count(*) AS BIGINT) FROM docs WHERE len(tk) > 0) AS doc_count,
         |    (SELECT CAST(sum(len(tk)) AS BIGINT) FROM docs) AS sum_ttf,
         |    (SELECT CAST(sum(len(list_distinct(tk))) AS BIGINT) FROM docs) AS sum_df,
         |    (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM (SELECT unnest(tk) AS tok FROM docs)) AS n_terms
         |  UNION ALL
         |  SELECT 'commit',
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents),
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents),
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents),
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents),
         |    (SELECT CAST(count(DISTINCT CAST(doc_id AS VARCHAR)) AS BIGINT) FROM documents)
         |  UNION ALL
         |  SELECT 'lang',
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents),
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE lang IS NOT NULL AND lang <> ''),
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE lang IS NOT NULL AND lang <> ''),
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE lang IS NOT NULL AND lang <> ''),
         |    (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents WHERE lang IS NOT NULL AND lang <> '')
         |  UNION ALL
         |  SELECT 'path',
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents),
         |    (SELECT CAST(count(*) AS BIGINT) FROM pfld WHERE len(ptk) > 0),
         |    (SELECT CAST(sum(len(ptk)) AS BIGINT) FROM pfld),
         |    (SELECT CAST(sum(len(list_distinct(ptk))) AS BIGINT) FROM pfld),
         |    (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM (SELECT unnest(ptk) AS tok FROM pfld)) AS n_terms
         |  UNION ALL
         |  SELECT 'repo',
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents),
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE source IS NOT NULL AND source <> ''),
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE source IS NOT NULL AND source <> ''),
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE source IS NOT NULL AND source <> ''),
         |    (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM documents WHERE source IS NOT NULL AND source <> '')
         |) ORDER BY field""".stripMargin,
    "ft_deletes_bulk" ->
      s"""${ftBase(Seq("data"))}
         |SELECT doc_id, round(${termScore("data")}, 4) AS score_r
         |FROM base WHERE f_data > 0 AND doc_id % 3 <> 0
         |ORDER BY doc_id""".stripMargin,
    "ft_deletes_query" ->
      s"""${ftBase(Seq("group", "spark", "batch"))}
         |SELECT doc_id, round(${termScore("group")}, 4) AS score_r
         |FROM base WHERE f_group > 0 AND NOT (f_spark > 0 AND f_batch > 0)
         |ORDER BY doc_id""".stripMargin,
    "ft_deletes_term" ->
      s"""${ftBase(Seq("sort", "window"))}
         |SELECT doc_id, round(${termScore("sort")}, 4) AS score_r
         |FROM base WHERE f_sort > 0 AND f_window = 0
         |ORDER BY doc_id""".stripMargin,
    "ft_req_opt" ->
      s"""${ftBase(Seq("merge", "spark"))}
         |SELECT doc_id, round(${termScore("merge")}
         |  + CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END, 4) AS score_r
         |FROM base WHERE f_merge > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_field_term" ->
      s"""${ftBase(Seq("merge"))}, lf AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS df FROM documents WHERE lang = 'de'
         |), lt AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS ttf FROM documents WHERE lang IS NOT NULL AND lang <> ''
         |)
         |SELECT b.doc_id AS doc_id, round(
         |  (ln(1 + ((SELECT n FROM g) - (SELECT df FROM lf) + 0.5) / ((SELECT df FROM lf) + 0.5))
         |   * ((1.0 * (1.2 + 1)) / (1.0 + 1.2 * ((1 - 0.75) + (0.75 * 1.0) / ((SELECT ttf FROM lt) / (SELECT n FROM g))))))
         |  + ${termScore("merge")}, 4) AS score_r
         |FROM base b JOIN documents dd ON dd.doc_id = b.doc_id
         |WHERE f_merge > 0 AND dd.lang = 'de'
         |ORDER BY doc_id""".stripMargin,
    "ft_field_text" -> // MUST path:src1 (path-field BM25) + MUST merge
      // (content BM25); engine sums must clauses in order: path then content
      s"""${ftBase(Seq("merge"))}, $pathCtes
         |SELECT b.doc_id AS doc_id, round(
         |  ${pscore("len(list_filter(ptk, x -> x = 'src1'))", pidf("src1"))}
         |  + ${termScore("merge")}, 4) AS score_r
         |FROM base b JOIN pfld p ON p.doc_id = b.doc_id
         |WHERE f_merge > 0 AND list_contains(ptk, 'src1')
         |ORDER BY doc_id""".stripMargin,
    "ft_field_body" -> // MUST body:data (body-field BM25 over the arbitrary
      // extra column's own df/dl/avgdl) + MUST merge (content BM25); engine
      // sums must clauses in clause order: body then content
      s"""${ftBase(Seq("merge"))}, $bodyCtes
         |SELECT b.doc_id AS doc_id, round(
         |  ${bscore("len(list_filter(btk, x -> x = 'data'))", bidf("data"))}
         |  + ${termScore("merge")}, 4) AS score_r
         |FROM base b JOIN bfld bf ON bf.doc_id = b.doc_id
         |WHERE f_merge > 0 AND list_contains(btk, 'data')
         |ORDER BY doc_id""".stripMargin,
    "ft_field_phrase" -> // exact phrase over the analyzed path field:
      // weight = sum of member idfs (engine idfExplainPhrase), freq = #exact
      // adjacent occurrences, dl/avgdl = the path field's own
      s"""$prelude, $pathCtes, ph AS (
         |  SELECT doc_id, ptk,
         |    len(list_filter(range(1, len(ptk)), i -> ptk[i] = 'src1' AND ptk[i+1] = 'de')) AS pf
         |  FROM pfld
         |)
         |SELECT doc_id, round(${pscore("pf", s"(${pidf("src1")} + ${pidf("de")})")}, 4) AS score_r
         |FROM ph WHERE pf > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_tfidf" -> // engine expression shape: idf=ln(N/(df+1))+1; v=Σ(idf·b)²
      // clause-order; qn=1/√v; leaf=((idf·qn)·idf)·√f·(1/√dl); sum must then
      // should; × coord (float32 overlap/maxOverlap, widened — 0.5/1.0 exact)
      s"""${ftBase(Seq("merge", "spark"))}, ti AS (
         |  SELECT
         |    (ln((SELECT n FROM g) / ((SELECT CAST(count(*) AS DOUBLE) FROM docs WHERE ${freqCol("merge")} > 0) + 1)) + 1.0) AS im,
         |    (ln((SELECT n FROM g) / ((SELECT CAST(count(*) AS DOUBLE) FROM docs WHERE ${freqCol("spark")} > 0) + 1)) + 1.0) AS i_s
         |), tq AS (
         |  SELECT im, i_s, 1.0 / sqrt((im * im) + (i_s * i_s)) AS qn FROM ti
         |)
         |SELECT b.doc_id AS doc_id, round(
         |  ( ((im * qn) * im) * sqrt(CAST(f_merge AS DOUBLE)) * (1.0 / sqrt(CAST(len(tk) AS DOUBLE)))
         |    + CASE WHEN f_spark > 0
         |        THEN ((i_s * qn) * i_s) * sqrt(CAST(f_spark AS DOUBLE)) * (1.0 / sqrt(CAST(len(tk) AS DOUBLE)))
         |        ELSE 0 END
         |  ) * (CASE WHEN f_spark > 0 THEN 1.0 ELSE 0.5 END), 4) AS score_r
         |FROM base b, tq
         |WHERE f_merge > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_lm_dirichlet" -> // p=(ttf+1)/(sumTtf+1); s=ln(1+f/(μp))+ln(μ/(dl+μ));
      // negative clamps to 0 but the doc still matches
      s"""${ftBase(Seq("merge"))}, lm AS (
         |  SELECT CAST((SELECT sum(${freqCol("merge")}) FROM docs) + 1 AS DOUBLE) /
         |         CAST((SELECT sum(len(tk)) FROM docs) + 1 AS DOUBLE) AS p
         |)
         |SELECT doc_id, round(
         |  CASE WHEN (ln(1 + CAST(f_merge AS DOUBLE) / (2000.0 * (SELECT p FROM lm)))
         |           + ln(2000.0 / (CAST(len(tk) AS DOUBLE) + 2000.0))) > 0
         |       THEN (ln(1 + CAST(f_merge AS DOUBLE) / (2000.0 * (SELECT p FROM lm)))
         |           + ln(2000.0 / (CAST(len(tk) AS DOUBLE) + 2000.0)))
         |       ELSE 0 END, 4) AS score_r
         |FROM base WHERE f_merge > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_dfr" -> // IF-L-H2, c=1: tfn = f·log2(1+avgdl/dl); score =
      // tfn·log2(1+(N+1)/(ttf+0.5)) · 1/(tfn+1); log2(x) ≡ ln(x)/ln(2)
      s"""${ftBase(Seq("window"))}, dp AS (
         |  SELECT CAST((SELECT sum(${freqCol("window")}) FROM docs) AS DOUBLE) AS ttf
         |), tf AS (
         |  SELECT doc_id,
         |    CAST(f_window AS DOUBLE) * (ln(1 + (SELECT avgdl FROM g) / CAST(len(tk) AS DOUBLE)) / ln(2)) AS tfn
         |  FROM base WHERE f_window > 0
         |)
         |SELECT doc_id, round(
         |  (tfn * (ln(1 + ((SELECT n FROM g) + 1) / ((SELECT ttf FROM dp) + 0.5)) / ln(2)))
         |  * (1 / (tfn + 1)), 4) AS score_r
         |FROM tf ORDER BY doc_id""".stripMargin,
    "ft_ib" -> // LL-DF: λ=(df+1)/(N+1); tfn as in DFR H2; s=-ln(λ/(tfn+λ))
      s"""${ftBase(Seq("sort"))}, ip AS (
         |  SELECT ((SELECT CAST(count(*) AS DOUBLE) FROM docs WHERE ${freqCol("sort")} > 0) + 1)
         |       / ((SELECT n FROM g) + 1) AS lam
         |), tf AS (
         |  SELECT doc_id,
         |    CAST(f_sort AS DOUBLE) * (ln(1 + (SELECT avgdl FROM g) / CAST(len(tk) AS DOUBLE)) / ln(2)) AS tfn
         |  FROM base WHERE f_sort > 0
         |)
         |SELECT doc_id, round(-ln((SELECT lam FROM ip) / (tfn + (SELECT lam FROM ip))), 4) AS score_r
         |FROM tf ORDER BY doc_id""".stripMargin,
    "ft_bm25plus" -> // BM25 tfNorm + 1, k1 widened (b=0.75 widens exactly);
      // idf = the reference BM25 idf (the idf_ column from ftBase)
      s"""${ftBase(Seq("stream"))}, bv AS (
         |  SELECT CAST(CAST(1.2 AS REAL) AS DOUBLE) AS k1
         |)
         |SELECT doc_id, round(idf_stream * (((CAST(f_stream AS DOUBLE) * ((SELECT k1 FROM bv) + 1))
         |  / (CAST(f_stream AS DOUBLE) + (SELECT k1 FROM bv) * ((1 - 0.75) + (0.75 * (CAST(len(tk) AS DOUBLE) / (SELECT avgdl FROM g)))))) + 1), 4) AS score_r
         |FROM base WHERE f_stream > 0 ORDER BY doc_id""".stripMargin,
    "ft_atire" -> // idf=ln(N/df), standard tfNorm with widened k1
      s"""${ftBase(Seq("filter"))}, bv AS (
         |  SELECT CAST(CAST(1.2 AS REAL) AS DOUBLE) AS k1,
         |    ln((SELECT n FROM g) / (SELECT CAST(count(*) AS DOUBLE) FROM docs WHERE ${freqCol("filter")} > 0)) AS w
         |)
         |SELECT doc_id, round((SELECT w FROM bv) * ((CAST(f_filter AS DOUBLE) * ((SELECT k1 FROM bv) + 1))
         |  / (CAST(f_filter AS DOUBLE) + (SELECT k1 FROM bv) * ((1 - 0.75) + (0.75 * (CAST(len(tk) AS DOUBLE) / (SELECT avgdl FROM g)))))), 4) AS score_r
         |FROM base WHERE f_filter > 0 ORDER BY doc_id""".stripMargin,
    "ft_modbm25" -> // idf=ln((N+1)/df), standard tfNorm with widened k1
      s"""${ftBase(Seq("join"))}, bv AS (
         |  SELECT CAST(CAST(1.2 AS REAL) AS DOUBLE) AS k1,
         |    ln(((SELECT n FROM g) + 1) / (SELECT CAST(count(*) AS DOUBLE) FROM docs WHERE ${freqCol("join")} > 0)) AS w
         |)
         |SELECT doc_id, round((SELECT w FROM bv) * ((CAST(f_join AS DOUBLE) * ((SELECT k1 FROM bv) + 1))
         |  / (CAST(f_join AS DOUBLE) + (SELECT k1 FROM bv) * ((1 - 0.75) + (0.75 * (CAST(len(tk) AS DOUBLE) / (SELECT avgdl FROM g)))))), 4) AS score_r
         |FROM base WHERE f_join > 0 ORDER BY doc_id""".stripMargin,
    "ft_bm25l" -> // c=f/((1-b)+(b·dl/avgdl)); s=w·((k1+1)(c+d))/(k1+(c+d));
      // k1 enters as the widened float32 1.2f, b/d (0.75, 0.5) are exact
      s"""${ftBase(Seq("query"))}, bl AS (
         |  SELECT CAST(CAST(1.2 AS REAL) AS DOUBLE) AS k1,
         |    ln(((SELECT n FROM g) + 1) / ((SELECT CAST(count(*) AS DOUBLE) FROM docs WHERE ${freqCol("query")} > 0) + 0.5)) AS w
         |), cx AS (
         |  SELECT doc_id,
         |    (CAST(f_query AS DOUBLE) / ((1 - 0.75) + (0.75 * (CAST(len(tk) AS DOUBLE) / (SELECT avgdl FROM g))))) + 0.5 AS cd
         |  FROM base WHERE f_query > 0
         |)
         |SELECT doc_id, round((SELECT w FROM bl) * ((((SELECT k1 FROM bl) + 1) * cd) / ((SELECT k1 FROM bl) + cd)), 4) AS score_r
         |FROM cx ORDER BY doc_id""".stripMargin,
    "ft_lm_hiemstra" -> // s=ln(1+(λ·f·sumTokens)/((1-λ)·ttf·dl)), λ widened
      s"""${ftBase(Seq("table"))}, lh AS (
         |  SELECT CAST(CAST(0.15 AS REAL) AS DOUBLE) AS l,
         |    (SELECT CAST(sum(len(tk)) AS DOUBLE) FROM docs) AS sumt,
         |    (SELECT CAST(sum(${freqCol("table")}) AS DOUBLE) FROM docs) AS ttf
         |), sx AS (
         |  SELECT doc_id,
         |    ln(1.0 + ((SELECT l FROM lh) * CAST(f_table AS DOUBLE) * (SELECT sumt FROM lh))
         |      / ((1 - (SELECT l FROM lh)) * (SELECT ttf FROM lh) * CAST(len(tk) AS DOUBLE))) AS s
         |  FROM base WHERE f_table > 0
         |)
         |SELECT doc_id, round(CASE WHEN s > 0 THEN s ELSE 0 END, 4) AS score_r
         |FROM sx ORDER BY doc_id""".stripMargin,
    "ft_lm_absdisc" -> // s=ln(1+(f-δ)/(δ·sumT·p))+ln(δ·sumT/dl), δ widened
      s"""${ftBase(Seq("scan"))}, la AS (
         |  SELECT CAST(CAST(0.7 AS REAL) AS DOUBLE) AS dd,
         |    (SELECT CAST(sum(len(tk)) AS DOUBLE) FROM docs) AS sumt,
         |    CAST((SELECT sum(${freqCol("scan")}) FROM docs) + 1 AS DOUBLE) /
         |    CAST((SELECT sum(len(tk)) FROM docs) + 1 AS DOUBLE) AS p
         |)
         |SELECT doc_id, round(
         |  (ln(1.0 + (CAST(f_scan AS DOUBLE) - (SELECT dd FROM la)) / ((SELECT dd FROM la) * (SELECT sumt FROM la) * (SELECT p FROM la)))
         |   + ln((SELECT dd FROM la) * (SELECT sumt FROM la) / CAST(len(tk) AS DOUBLE))), 4) AS score_r
         |FROM base WHERE f_scan > 0 ORDER BY doc_id""".stripMargin,
    "ft_lm_twostage" -> // s=ln(1+λf/(((1-λ)dl+μ)p))+ln(((1-λ)dl+μ)/(dl+μ)),
      // clamped at 0; λ widened, μ=2000 exact
      s"""${ftBase(Seq("order"))}, lt AS (
         |  SELECT CAST(CAST(0.1 AS REAL) AS DOUBLE) AS l,
         |    CAST((SELECT sum(${freqCol("order")}) FROM docs) + 1 AS DOUBLE) /
         |    CAST((SELECT sum(len(tk)) FROM docs) + 1 AS DOUBLE) AS p
         |), sx AS (
         |  SELECT doc_id,
         |    (ln(1 + ((SELECT l FROM lt) * CAST(f_order AS DOUBLE)) / ((((1 - (SELECT l FROM lt)) * CAST(len(tk) AS DOUBLE)) + 2000.0) * (SELECT p FROM lt)))
         |     + ln((((1 - (SELECT l FROM lt)) * CAST(len(tk) AS DOUBLE)) + 2000.0) / (CAST(len(tk) AS DOUBLE) + 2000.0))) AS s
         |  FROM base WHERE f_order > 0
         |)
         |SELECT doc_id, round(CASE WHEN s > 0 THEN s ELSE 0 END, 4) AS score_r
         |FROM sx ORDER BY doc_id""".stripMargin,
    "ft_lm_pitmanyor" -> // fp=max(f-δ·f^δ, 0); s=ln(1+fp/(μp))+ln(1-sumT/(dl+μ)),
      // NaN/negative clamps to 0 (domain CASE models the NaN leg); δ widened
      s"""${ftBase(Seq("hash"))}, lp AS (
         |  SELECT CAST(CAST(0.7 AS REAL) AS DOUBLE) AS dd,
         |    CAST((SELECT sum(len(tk)) FROM docs) AS DOUBLE) AS sumt,
         |    CAST((SELECT sum(${freqCol("hash")}) FROM docs) + 1 AS DOUBLE) /
         |    CAST((SELECT sum(len(tk)) FROM docs) + 1 AS DOUBLE) AS p
         |), sx AS (
         |  SELECT doc_id,
         |    CASE WHEN (1.0 - (SELECT sumt FROM lp) / (CAST(len(tk) AS DOUBLE) + 2000.0)) <= 0 THEN 0
         |         ELSE ln(1 + greatest(CAST(f_hash AS DOUBLE) - (SELECT dd FROM lp) * pow(CAST(f_hash AS DOUBLE), (SELECT dd FROM lp)), 0)
         |                 / (2000.0 * (SELECT p FROM lp)))
         |            + ln(1.0 - (SELECT sumt FROM lp) / (CAST(len(tk) AS DOUBLE) + 2000.0)) END AS s
         |  FROM base WHERE f_hash > 0
         |)
         |SELECT doc_id, round(CASE WHEN s > 0 THEN s ELSE 0 END, 4) AS score_r
         |FROM sx ORDER BY doc_id""".stripMargin,
    "ft_dfi" -> // chi²: e=(ttf+1)·dl/(sumTtf+1); s=log2(1+(f-e)²/e), 0 at f≤e
      s"""${ftBase(Seq("data"))}, dfi AS (
         |  SELECT CAST((SELECT sum(${freqCol("data")}) FROM docs) + 1 AS DOUBLE) AS t1,
         |         CAST((SELECT sum(len(tk)) FROM docs) + 1 AS DOUBLE) AS s1
         |), ex AS (
         |  SELECT doc_id, CAST(f_data AS DOUBLE) AS f,
         |    ((SELECT t1 FROM dfi) * CAST(len(tk) AS DOUBLE)) / (SELECT s1 FROM dfi) AS e
         |  FROM base WHERE f_data > 0
         |)
         |SELECT doc_id, round(
         |  CASE WHEN f <= e THEN 0
         |       ELSE (ln((((f - e) * (f - e)) / e) + 1) / ln(2)) END, 4) AS score_r
         |FROM ex ORDER BY doc_id""".stripMargin,
    "ft_perfield" -> // path leaf: TF-IDF idf², √f, 1/√dl_path (qn=1 — the
      // wrapper's queryNorm is the BM25 default's); content leaf: BM25
      s"""${ftBase(Seq("merge"))}, $pathCtes, pti AS (
         |  SELECT (ln((SELECT n FROM g) / ((SELECT CAST(count(*) AS DOUBLE) FROM pfld WHERE list_contains(ptk, 'src1')) + 1)) + 1.0) AS pi
         |)
         |SELECT b.doc_id AS doc_id, round(
         |  (((SELECT pi FROM pti) * (SELECT pi FROM pti))
         |    * sqrt(CAST(len(list_filter(ptk, x -> x = 'src1')) AS DOUBLE))
         |    * (1.0 / sqrt(CAST(len(ptk) AS DOUBLE))))
         |  + ${termScore("merge")}, 4) AS score_r
         |FROM base b JOIN pfld p ON p.doc_id = b.doc_id
         |WHERE f_merge > 0 AND list_contains(ptk, 'src1')
         |ORDER BY doc_id""".stripMargin,
    "ft_multi" -> // mean of BM25 and unnormalized TF-IDF (qn=1: Multi does
      // not accumulate valueForNormalization)
      s"""${ftBase(Seq("batch"))}, mi AS (
         |  SELECT (ln((SELECT n FROM g) / ((SELECT CAST(count(*) AS DOUBLE) FROM docs WHERE ${freqCol("batch")} > 0) + 1)) + 1.0) AS ti
         |)
         |SELECT doc_id, round(
         |  ((${termScore("batch")})
         |   + (((SELECT ti FROM mi) * (SELECT ti FROM mi)) * sqrt(CAST(f_batch AS DOUBLE)) * (1.0 / sqrt(CAST(len(tk) AS DOUBLE))))
         |  ) / 2, 4) AS score_r
         |FROM base WHERE f_batch > 0 ORDER BY doc_id""".stripMargin,
    "ft_paged" -> // rows [11, 20] in (raw score DESC, doc_id) order — raw,
      // not rounded: the engine pages on exact float64 scores and the oracle
      // reproduces them bit-for-bit, so the rank window is identical
      s"""${ftBase(Seq("merge", "spark", "window"))}, sc AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN f_merge > 0 THEN ${termScore("merge")} ELSE 0 END
         |    + CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END
         |    + CASE WHEN f_window > 0 THEN ${termScore("window")} ELSE 0 END AS s
         |  FROM base WHERE f_merge > 0 OR f_spark > 0 OR f_window > 0
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM rk
         |WHERE rn > 10 AND rn <= 20 ORDER BY doc_id""".stripMargin,
    "ft_search_after" -> // cursor rows [11, 15]: searchAfter(last of top-10)
      // == the offset window ONLY because exact-double scores reproduce
      // bit-for-bit (the strictly-after predicate compares raw float64)
      s"""${ftBase(Seq("merge", "spark", "window"))}, sc AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN f_merge > 0 THEN ${termScore("merge")} ELSE 0 END
         |    + CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END
         |    + CASE WHEN f_window > 0 THEN ${termScore("window")} ELSE 0 END AS s
         |  FROM base WHERE f_merge > 0 OR f_spark > 0 OR f_window > 0
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM rk
         |WHERE rn > 10 AND rn <= 15 ORDER BY doc_id""".stripMargin,
    "ft_facets" -> // lang counts over all docs containing merge or vector,
      // (count DESC, lang) order — counts are exact integers, no float
      // concerns; the engine counts over the live docs table (no deletes on
      // the main ft index)
      s"""$prelude
         |SELECT d.lang AS lang, CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents d
         |JOIN docs t ON d.doc_id = t.doc_id
         |WHERE len(list_filter(t.tk, x -> x = 'merge')) > 0
         |   OR len(list_filter(t.tk, x -> x = 'vector')) > 0
         |GROUP BY d.lang
         |ORDER BY n_docs DESC, lang""".stripMargin,
    "ft_sorted" -> // sort-by-field: the top-15 `merge` matches by
      // (repo DESC, doc_id) — string order is binary on both sides (ASCII
      // repo values); the selected set + sort values re-order by doc_id
      s"""$prelude, m AS (
         |  SELECT doc_id FROM docs WHERE ${freqCol("merge")} > 0
         |), s AS (
         |  SELECT m.doc_id AS doc_id, d.source AS repo
         |  FROM m JOIN documents d ON d.doc_id = m.doc_id
         |  ORDER BY repo DESC, doc_id LIMIT 15
         |)
         |SELECT doc_id, repo FROM s ORDER BY doc_id""".stripMargin,
    "ft_grouped" -> // result grouping: window rank within lang ordered by
      // the raw float64 score (reproduces bit-for-bit — rank-window rule),
      // group leaderboard by (max score DESC, lang), round at display only
      s"""${ftBase(Seq("merge", "spark"))}, sc AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN f_merge > 0 THEN ${termScore("merge")} ELSE 0 END
         |    + CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END AS s
         |  FROM base WHERE f_merge > 0 OR f_spark > 0
         |), j AS (
         |  SELECT sc.doc_id AS doc_id, sc.s AS s, d.lang AS lang
         |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id
         |), rk AS (
         |  SELECT doc_id, s, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY s DESC, doc_id) AS rnk,
         |    max(s) OVER (PARTITION BY lang) AS gtop
         |  FROM j
         |), lead AS (
         |  SELECT lang, gtop FROM (SELECT DISTINCT lang, gtop FROM rk)
         |  ORDER BY gtop DESC, lang LIMIT 3
         |)
         |SELECT rk.lang AS lang, round(lead.gtop, 4) AS group_top_r,
         |  CAST(rnk AS BIGINT) AS rnk, rk.doc_id AS doc_id, round(s, 4) AS score_r
         |FROM rk JOIN lead ON rk.lang = lead.lang
         |WHERE rnk <= 4
         |ORDER BY lang, rnk""".stripMargin,
    "ft_suggest" -> // spell suggest: vocabulary df recomputed from the
      // corpus, DuckDB's classic levenshtein == Spark's; integers only
      s"""$prelude, vocab AS (
         |  SELECT tok AS term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM docs)
         |  GROUP BY tok
         |), cand AS (
         |  SELECT term, df, CAST(levenshtein(term, 'sart') AS BIGINT) AS dist
         |  FROM vocab
         |  WHERE term <> 'sart' AND levenshtein(term, 'sart') <= 2
         |), top AS (
         |  SELECT * FROM cand ORDER BY dist, df DESC, term LIMIT 5
         |)
         |SELECT term, dist, df FROM top ORDER BY term""".stripMargin,
    "ft_filtered" -> // FILTER clause: vector gates the match set but adds no
      // score — the SELECT sums only the merge|spark disjunction (2-term
      // float64 sum in the engine's must-then-should clause order)
      s"""${ftBase(Seq("merge", "spark", "vector"))}
         |SELECT doc_id, round(
         |  CASE WHEN f_merge > 0 THEN ${termScore("merge")} ELSE 0 END
         |  + CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END, 4) AS score_r
         |FROM base WHERE f_vector > 0 AND (f_merge > 0 OR f_spark > 0)
         |ORDER BY doc_id""".stripMargin,
    "ft_match_all" -> // match-all over a delete view: every live doc at the
      // constant boost score — no postings, no tokenization, pure liveness
      s"""SELECT doc_id, CAST(2.5 AS DOUBLE) AS score_r
         |FROM documents WHERE doc_id % 7 <> 0
         |ORDER BY doc_id""".stripMargin,
    "ft_dismax" -> // dismax tie=0.5: the engine computes mx + tie*(sm − mx)
      // with sm summed in clause order (merge then sort) — shape mirrored;
      // CASE→0 is safe because BM25 term scores are strictly positive
      s"""${ftBase(Seq("merge", "sort"))}, dm AS (
         |  SELECT doc_id,
         |    greatest(CASE WHEN f_merge > 0 THEN ${termScore("merge")} ELSE 0 END,
         |             CASE WHEN f_sort > 0 THEN ${termScore("sort")} ELSE 0 END) AS mx,
         |    (CASE WHEN f_merge > 0 THEN ${termScore("merge")} ELSE 0 END
         |     + CASE WHEN f_sort > 0 THEN ${termScore("sort")} ELSE 0 END) AS sm
         |  FROM base WHERE f_merge > 0 OR f_sort > 0
         |)
         |SELECT doc_id, round(mx + 0.5 * (sm - mx), 4) AS score_r
         |FROM dm ORDER BY doc_id""".stripMargin,
    "ft_constant" -> // constant-score wrapper: the disjunction gates, 3.25
      // (exactly representable) is the score for every match
      s"""${ftBase(Seq("merge", "vector"))}
         |SELECT doc_id, CAST(3.25 AS DOUBLE) AS score_r
         |FROM base WHERE f_merge > 0 OR f_vector > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_sharded" -> // the oracle is MONOLITHIC BM25 over the whole corpus —
      // the engine side answers from two doc_id%2 shards with merged stats
      s"""${ftBase(Seq("sort", "vector"))}
         |SELECT doc_id, round(${termScore("sort")}
         |  + CASE WHEN f_vector > 0 THEN ${termScore("vector")} ELSE 0 END, 4) AS score_r
         |FROM base WHERE f_sort > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_sharded_wand" -> // raw-score rank window over the whole corpus; the
      // engine answers via per-shard WAND merged to a global top-10
      s"""${ftBase(Seq("merge", "window"))}, sc AS (
         |  SELECT doc_id,
         |    CASE WHEN f_merge > 0 THEN ${termScore("merge")} ELSE 0 END
         |    + CASE WHEN f_window > 0 THEN ${termScore("window")} ELSE 0 END AS s
         |  FROM base WHERE f_merge > 0 OR f_window > 0
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM rk
         |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "ft_hybrid" -> // RRF fusion: BM25 rank window + cosine rank window,
      // rrf = 1/(60+lrank) + 1/(60+vrank) (lexical term first — float64
      // order mirrored), raw-rrf top-10, floor-based r4 at the edge
      s"""${ftBase(Seq("merge", "spark"))}, lexsc AS (
         |  SELECT doc_id,
         |    CASE WHEN f_merge > 0 THEN ${termScore("merge")} ELSE 0 END
         |    + CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END AS s
         |  FROM base WHERE f_merge > 0 OR f_spark > 0
         |), lexrk AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS lrank
         |  FROM lexsc
         |), lex AS (SELECT doc_id, lrank FROM lexrk WHERE lrank <= 50
         |), en AS (
         |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings
         |), vq AS (SELECT embedding, nrm FROM en WHERE vec_id = 0
         |), vsc AS (
         |  SELECT en.vec_id AS doc_id,
         |    round(${dotSql("vq.embedding", "en.embedding")} / (vq.nrm * en.nrm), 4) AS c
         |  FROM en, vq
         |), vrk AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY c DESC, doc_id) AS BIGINT) AS vrank
         |  FROM vsc
         |), vtop AS (SELECT doc_id, vrank FROM vrk WHERE vrank <= 50
         |), fused AS (
         |  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         |    COALESCE(1.0 / (60.0 + l.lrank), 0) + COALESCE(1.0 / (60.0 + v.vrank), 0) AS rrf
         |  FROM lex l FULL OUTER JOIN vtop v ON l.doc_id = v.doc_id
         |), top AS (SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 10)
         |SELECT doc_id, floor(rrf * 10000.0 + 0.5) / 10000.0 AS rrf_r
         |FROM top ORDER BY doc_id""".stripMargin,
    "ft_stored" ->
      s"""${ftBase(Seq("sort"))}, sc AS (
         |  SELECT doc_id, tk, ${termScore("sort")} AS s FROM base WHERE f_sort > 0
         |), rk AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT d.doc_id AS doc_id, d.source AS repo, d.lang AS lang,
         |  sha256(d.text) AS sha256
         |FROM rk JOIN documents d ON d.doc_id = rk.doc_id
         |WHERE rn <= 8 ORDER BY doc_id""".stripMargin,
    "ft_explain" -> // the engine side emits explain(q, doc).value, NOT the
      // search score — matching this SQL proves root-value == true score
      s"""${ftBase(Seq("merge", "spark"))}, sc AS (
         |  SELECT doc_id, tk, ${termScore("merge")}
         |    + CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END AS s
         |  FROM base WHERE f_merge > 0
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM rk
         |WHERE rn <= 5 ORDER BY doc_id""".stripMargin,
    "ft_sql_source" -> // top-12 of the 'merge sort' disjunction through the
      // DSv2 view; raw-score rank window (bit-for-bit exact-double basis)
      s"""${ftBase(Seq("merge", "sort"))}, sc AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN f_merge > 0 THEN ${termScore("merge")} ELSE 0 END
         |    + CASE WHEN f_sort > 0 THEN ${termScore("sort")} ELSE 0 END AS s
         |  FROM base WHERE f_merge > 0 OR f_sort > 0
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM rk
         |WHERE rn <= 12 ORDER BY doc_id""".stripMargin,
    "ft_sql_sharded" -> // MONOLITHIC rank window — the engine side answers
      // from two doc_id%2 shards behind the comma-list DSv2 view
      s"""${ftBase(Seq("sort", "vector"))}, sc AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN f_sort > 0 THEN ${termScore("sort")} ELSE 0 END
         |    + CASE WHEN f_vector > 0 THEN ${termScore("vector")} ELSE 0 END AS s
         |  FROM base WHERE f_sort > 0 OR f_vector > 0
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM rk
         |WHERE rn <= 12 ORDER BY doc_id""".stripMargin,
    "ft_wide_or" -> // 20-clause CASE sum in clause order, raw-score window
      s"""${ftBase(wideTerms.distinct)}, sc AS (
         |  SELECT doc_id, tk,
         |    ${wideTerms.map(t => s"CASE WHEN f_$t > 0 THEN ${termScore(t)} ELSE 0 END").mkString("\n    + ")} AS s
         |  FROM base WHERE ${wideTerms.map(t => s"f_$t > 0").mkString(" OR ")}
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM rk
         |WHERE rn <= 15 ORDER BY doc_id""".stripMargin,
    "ft_wand_topk" -> // raw-score rank window (same bit-for-bit basis as
      // ft_paged); matching proves the pruned result IS the exhaustive one
      s"""${ftBase(Seq("spark", "window", "batch"))}, sc AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END
         |    + CASE WHEN f_window > 0 THEN ${termScore("window")} ELSE 0 END
         |    + CASE WHEN f_batch > 0 THEN ${termScore("batch")} ELSE 0 END AS s
         |  FROM base WHERE f_spark > 0 OR f_window > 0 OR f_batch > 0
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM rk
         |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "ft_sql_tvf" -> // same ranking as ft_sql_source (the view surface): the
      // TVF must return the identical top-12 raw-score window
      s"""${ftBase(Seq("merge", "sort"))}, sc AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN f_merge > 0 THEN ${termScore("merge")} ELSE 0 END
         |    + CASE WHEN f_sort > 0 THEN ${termScore("sort")} ELSE 0 END AS s
         |  FROM base WHERE f_merge > 0 OR f_sort > 0
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM rk
         |WHERE rn <= 12 ORDER BY doc_id""".stripMargin,
    "ft_sql_tvf_wand" -> // same exhaustive ranking: the TVF's wand argument
      // must not change a single row of the top-10
      s"""${ftBase(Seq("spark", "window", "batch"))}, sc AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END
         |    + CASE WHEN f_window > 0 THEN ${termScore("window")} ELSE 0 END
         |    + CASE WHEN f_batch > 0 THEN ${termScore("batch")} ELSE 0 END AS s
         |  FROM base WHERE f_spark > 0 OR f_window > 0 OR f_batch > 0
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM rk
         |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "ft_sql_wand" -> // identical ranking to ft_wand_topk: wand pruning via
      // the DSv2 view must not change a single row of the exhaustive top-10
      s"""${ftBase(Seq("spark", "window", "batch"))}, sc AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END
         |    + CASE WHEN f_window > 0 THEN ${termScore("window")} ELSE 0 END
         |    + CASE WHEN f_batch > 0 THEN ${termScore("batch")} ELSE 0 END AS s
         |  FROM base WHERE f_spark > 0 OR f_window > 0 OR f_batch > 0
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM rk
         |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "ft_wand_nested" -> // ft_parsed's scoring (SHOULD spark, SHOULD nested
      // (merge AND sort)) as a raw-score top-10 rank window — matching
      // proves the recursively-pruned result IS the exhaustive one
      s"""${ftBase(Seq("spark", "merge", "sort"))}, sc AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END
         |    + CASE WHEN f_merge > 0 AND f_sort > 0 THEN (${termScore("merge")} + ${termScore("sort")}) ELSE 0 END AS s
         |  FROM base WHERE f_spark > 0 OR (f_merge > 0 AND f_sort > 0)
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM rk
         |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "ft_wand_phrase" -> // clause order spark, "batch batch", window; phrase
      // weight = summed member idfs (engine idfExplainPhrase); raw-score
      // rank window — matching proves phrase-pruned ≡ exhaustive
      s"""${ftBase(Seq("spark", "batch", "window"))}, sc AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN f_spark > 0 THEN ${termScore("spark")} ELSE 0 END
         |    + CASE WHEN len(list_filter(range(1, len(tk_all)), i -> tk_all[i] = 'batch' AND tk_all[i+1] = 'batch')) > 0
         |        THEN ${scoreSql("len(list_filter(range(1, len(tk_all)), i -> tk_all[i] = 'batch' AND tk_all[i+1] = 'batch'))", "(idf_batch + idf_batch)")}
         |        ELSE 0 END
         |    + CASE WHEN f_window > 0 THEN ${termScore("window")} ELSE 0 END AS s
         |  FROM base
         |  WHERE f_spark > 0 OR f_window > 0
         |     OR len(list_filter(range(1, len(tk_all)), i -> tk_all[i] = 'batch' AND tk_all[i+1] = 'batch')) > 0
         |), rk AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc
         |)
         |SELECT doc_id, round(s, 4) AS score_r FROM rk
         |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "ft_total_hits" ->
      s"""${ftBase(Seq("merge", "sort", "spark", "batch"))}
         |SELECT qname, CAST(hits AS BIGINT) AS hits FROM (
         |  SELECT 'and_merge_sort' AS qname, count(*) AS hits FROM base WHERE f_merge > 0 AND f_sort > 0
         |  UNION ALL
         |  SELECT 'or_merge_spark', count(*) FROM base WHERE f_merge > 0 OR f_spark > 0
         |  UNION ALL
         |  SELECT 'phrase_batch_batch', count(*) FROM base
         |  WHERE len(list_filter(range(1, len(tk_all)), i -> tk_all[i] = 'batch' AND tk_all[i+1] = 'batch')) > 0
         |) ORDER BY qname""".stripMargin,

    "dd_exact" ->
      """SELECT md5(text) AS content_md5, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS min_id
        |FROM documents GROUP BY 1 ORDER BY content_md5 LIMIT 20""".stripMargin,
    "dd_minhash_sig" ->
      s"""$pipelinePrelude, ${shinglesCte()}, $sigCte
         |SELECT doc_id, CAST(seed AS INT) AS seed, minhash FROM sig
         |WHERE doc_id < 20 ORDER BY doc_id, seed""".stripMargin,
    // NOTE: the engine's maxBucket skew cap (Dedup.minhashLshPairs) is NOT
    // modeled here — it only fires on buckets >10k distinct contents, far
    // beyond the oracle fixtures; it is a documented approximation boundary
    // of the operator, not of this query.
    "dd_lsh_pairs" -> // rep collapse mirrors Dedup.contentRepresentatives
      s"""$pipelinePrelude, reps AS (
         |  SELECT min(doc_id) AS doc_id
         |  FROM (SELECT doc_id, md5(text) AS c FROM documents) GROUP BY c
         |), rawr AS (
         |  SELECT raw.* FROM raw JOIN reps USING (doc_id)
         |), ${shinglesCte("rawr")}, $sigCte, bands AS (
         |  SELECT doc_id, CAST(floor(seed / 2.0) AS INT) AS band,
         |         string_agg(minhash, ',' ORDER BY seed) AS band_key
         |  FROM sig GROUP BY doc_id, band
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b USING (band, band_key)
         |  WHERE a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b,
         |  floor((CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(sa.shs, sb.shs))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS jaccard
         |FROM cand JOIN shing sa ON sa.doc_id = id_a JOIN shing sb ON sb.doc_id = id_b
         |WHERE floor((CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(sa.shs, sb.shs))) AS DOUBLE)) * 10000 + 0.5) / 10000 >= 0.05
         |ORDER BY id_a, id_b""".stripMargin,
    // NOTE: the engine's maxBucket cap (10k distinct ids per (band, byte))
    // is NOT modeled here. Byte bands have only 256 values, so unlike the
    // MinHash string-keyed bands this cap WILL engage at corpus scale
    // (~2.5M+ docs even under uniform hashing) — it is the documented
    // recall/cost dial of the operator; the oracle corpora (≤5k docs) sit
    // far below it.
    "dd_simhash_pairs" -> // pigeonhole: 4 byte-bands of the 32-bit hash;
      // hamming ≤ 3 ⇒ ≥1 exact shared band; popcount verifies
      s"""$pipelinePrelude, sh AS (
         |  SELECT doc_id AS id, CAST(sum(CASE WHEN votes >= 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS h
         |  FROM (
         |    SELECT doc_id, j, sum(vote) AS votes FROM (
         |      SELECT doc_id, j,
         |        CASE WHEN substr(md5(tok), CAST(j+1 AS INT), 1) IN ('8','9','a','b','c','d','e','f')
         |             THEN 1 ELSE -1 END AS vote
         |      FROM (SELECT doc_id, unnest(tk) AS tok FROM raw),
         |           (SELECT unnest(range(0, 32)) AS j))
         |    GROUP BY doc_id, j)
         |  GROUP BY doc_id
         |), banded AS (
         |  SELECT id, h, band, CAST(floor(h / pow(2, band * 8)) AS BIGINT) % 256 AS bv
         |  FROM sh, (SELECT unnest([0,1,2,3]) AS band)
         |), cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a JOIN banded b USING (band, bv)
         |  WHERE a.id < b.id
         |)
         |SELECT id_a, id_b, CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
         |FROM cand JOIN sh x ON x.id = id_a JOIN sh y ON y.id = id_b
         |WHERE bit_count(xor(x.h, y.h)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "dd_components" -> // transitive closure by recursive CTE (tiny at oracle
      // scale); the engine runs min-label propagation + pointer jumping —
      // matching proves the distributed fixpoint resolves the same components
      s"""${pipelinePrelude.replaceFirst("WITH ", "WITH RECURSIVE ")}, $lshPairsCtes, $closureCtes
         |SELECT id, CAST(rep AS BIGINT) AS rep FROM comp ORDER BY id""".stripMargin,
    "dd_survivors" -> // exact reps minus near-dup-component non-reps
      s"""${pipelinePrelude.replaceFirst("WITH ", "WITH RECURSIVE ")}, $lshPairsCtes, $closureCtes
         |SELECT doc_id FROM reps
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> rep)
         |ORDER BY doc_id""".stripMargin,
    "dd_ngram_jaccard" ->
      s"""$pipelinePrelude, ${shinglesCte()}
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  floor((CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.shs, b.shs))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS jaccard
         |FROM (SELECT * FROM shing WHERE doc_id < 40) a,
         |     (SELECT * FROM shing WHERE doc_id < 40) b
         |WHERE a.doc_id < b.doc_id
         |  AND floor((CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.shs, b.shs))) AS DOUBLE)) * 10000 + 0.5) / 10000 >= 0.01
         |ORDER BY id_a, id_b""".stripMargin,
    "dd_simhash" ->
      s"""$pipelinePrelude
         |SELECT doc_id, CAST(sum(CASE WHEN votes >= 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash32
         |FROM (
         |  SELECT doc_id, j, sum(vote) AS votes FROM (
         |    SELECT doc_id, j,
         |      CASE WHEN substr(md5(tok), CAST(j+1 AS INT), 1) IN ('8','9','a','b','c','d','e','f')
         |           THEN 1 ELSE -1 END AS vote
         |    FROM (SELECT doc_id, unnest(tk) AS tok FROM raw),
         |         (SELECT unnest(range(0, 32)) AS j))
         |  GROUP BY doc_id, j)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ann_cosine_topk" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding,
         |         sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings
         |), scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4) AS cosine
         |  FROM (SELECT * FROM n WHERE vec_id < 5) a, n b
         |  WHERE a.vec_id <> b.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "dd_embed_pairs" -> // 4-plane/4-table md5-hyperplane buckets, tau=0.25
      s"""WITH n AS (
         |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings
         |), buck AS (
         |  SELECT vec_id, tbl,
         |    CAST(list_sum(list_transform(range(0, 4), p ->
         |      CASE WHEN list_reduce(list_transform(range(1, len(embedding)+1), i ->
         |          CAST(embedding[i] AS DOUBLE) * ($lshSignSql)),
         |        (x,y) -> x+y) >= 0
         |      THEN CAST(pow(2, p) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
         |  FROM n, (SELECT unnest([0,1,2,3]) AS tbl)
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM buck a JOIN buck b USING (tbl, bucket)
         |  WHERE a.vec_id < b.vec_id
         |)
         |SELECT id_a, id_b,
         |  round(${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm), 4) AS cosine
         |FROM cand JOIN n x ON x.vec_id = id_a JOIN n y ON y.vec_id = id_b
         |WHERE round(${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm), 4) >= 0.25
         |ORDER BY id_a, id_b""".stripMargin,
    "dd_embed_survivors" -> // same 4-plane buckets + τ=0.25 pairs as
      // dd_embed_pairs, then recursive-closure components → survivors
      s"""WITH RECURSIVE n AS (
         |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings
         |), buck AS (
         |  SELECT vec_id, tbl,
         |    CAST(list_sum(list_transform(range(0, 4), p ->
         |      CASE WHEN list_reduce(list_transform(range(1, len(embedding)+1), i ->
         |          CAST(embedding[i] AS DOUBLE) * ($lshSignSql)),
         |        (x,y) -> x+y) >= 0
         |      THEN CAST(pow(2, p) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
         |  FROM n, (SELECT unnest([0,1,2,3]) AS tbl)
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM buck a JOIN buck b USING (tbl, bucket)
         |  WHERE a.vec_id < b.vec_id
         |), pairs AS (
         |  SELECT id_a, id_b
         |  FROM cand JOIN n x ON x.vec_id = id_a JOIN n y ON y.vec_id = id_b
         |  WHERE round(${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm), 4) >= 0.25
         |), $closureCtes
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM comp WHERE id <> rep)
         |ORDER BY vec_id""".stripMargin,
    "ann_ivf_topk" ->
      s"""$ivfCtes
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
         |FROM ivf_ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ann_ivf_index" -> // identical semantics to ann_ivf_topk: persistence +
      // partition-pruned probes must not change a single result
      s"""$ivfCtes
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
         |FROM ivf_ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ann_ivf_recall" ->
      s"""$ivfCtes, exact_scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4) AS cosine
         |  FROM (SELECT * FROM n WHERE vec_id < 5) a, n b
         |  WHERE a.vec_id <> b.vec_id
         |), exact_ranked AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM exact_scored
         |)
         |SELECT e.query_id AS query_id,
         |       round(CAST(count(l.neighbor_id) AS DOUBLE) / 5.0, 4) AS recall
         |FROM (SELECT * FROM exact_ranked WHERE rank <= 5) e
         |LEFT JOIN (SELECT * FROM ivf_ranked WHERE rank <= 5) l
         |  ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
         |GROUP BY e.query_id ORDER BY query_id""".stripMargin,
    "ann_lsh_topk" ->
      s"""$lshCtes
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
         |FROM lsh_ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ann_lsh_recall" ->
      s"""$lshCtes, exact_scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |         round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4) AS cosine
         |  FROM (SELECT * FROM n WHERE vec_id < 5) a, n b
         |  WHERE a.vec_id <> b.vec_id
         |), exact_ranked AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM exact_scored
         |)
         |SELECT e.query_id AS query_id,
         |       round(CAST(count(l.neighbor_id) AS DOUBLE) / 5.0, 4) AS recall
         |FROM (SELECT * FROM exact_ranked WHERE rank <= 5) e
         |LEFT JOIN (SELECT * FROM lsh_ranked WHERE rank <= 5) l
         |  ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
         |GROUP BY e.query_id ORDER BY query_id""".stripMargin,

    "ev_windowed" -> // DECIMAL sum = order-independent exactness on both sides
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "ta_quality" -> // floor(x·1e4+0.5)/1e4 on BOTH sides: small-integer
      // ratios land exactly on .xxxx5 boundaries where Spark and DuckDB
      // round() disagree (TextOps.r4)
      s"""$pipelinePrelude
         |SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
         |  floor((CAST(len(list_filter(tk, x -> x IN (${TextOpsOracle.stopSql}))) AS DOUBLE) / CAST(len(tk) AS DOUBLE)) * 10000 + 0.5) / 10000 AS stop_ratio,
         |  floor((CAST(list_reduce(list_transform(tk, x -> CAST(len(x) AS BIGINT)), (a,b) -> a+b) AS DOUBLE) / CAST(len(tk) AS DOUBLE)) * 10000 + 0.5) / 10000 AS avg_token_len,
         |  floor(((CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE))
         |      * (1.0 - CAST(len(list_filter(tk, x -> x IN (${TextOpsOracle.stopSql}))) AS DOUBLE) / CAST(len(tk) AS DOUBLE))
         |      * least(1.0, CAST(len(tk) AS DOUBLE) / 50.0)) * 10000 + 0.5) / 10000 AS quality
         |FROM raw WHERE len(tk) > 0 ORDER BY doc_id""".stripMargin,
    "ta_langid" ->
      s"""$pipelinePrelude, ls AS (
         |  SELECT doc_id, text,
         |    ${TextOps.LangMarkers.map { case (l, ms) =>
               s"len(list_filter(tk, x -> x IN (${ms.map(m => s"'$m'").mkString(",")}))) AS s_$l"
             }.mkString(",\n    ")}
         |  FROM raw
         |)
         |SELECT doc_id,
         |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS pred_lang
         |FROM ls ORDER BY doc_id""".stripMargin,
    "ta_token_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_fingerprint" ->
      s"""$pipelinePrelude
         |SELECT doc_id, md5(array_to_string(list_sort(list_distinct(tk)), ' ')) AS fingerprint
         |FROM raw ORDER BY doc_id""".stripMargin,

    "ta_commongrams" ->
      s"""$pipelinePrelude
         |SELECT doc_id,
         |  CAST(len(tk) + len(list_filter(range(1, len(tk)), i ->
         |    tk[i] IN (${TextOpsOracle.stopSql}) OR tk[i+1] IN (${TextOpsOracle.stopSql}))) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(range(1, len(tk)), i ->
         |    tk[i] IN (${TextOpsOracle.stopSql}) OR tk[i+1] IN (${TextOpsOracle.stopSql}))) AS BIGINT) AS n_grams
         |FROM raw ORDER BY doc_id""".stripMargin,

    "ta_code_tokens" ->
      s"""WITH raw AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk_all
         |  FROM documents WHERE doc_id < 30
         |)
         |SELECT doc_id, CAST(pos AS INT) AS pos, term FROM (
         |  SELECT doc_id, unnest(tk_all) AS term, generate_subscripts(tk_all, 1) - 1 AS pos FROM raw
         |) WHERE term NOT IN (${TextOpsOracle.stopSql})
         |ORDER BY doc_id, pos""".stripMargin,

    "ta_sample" -> { // thresholds from the same hex formula (TextOps.sampleThreshold)
      val cases = Seq("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25)
        .map { case (l, w) => s"WHEN '$l' THEN '${TextOps.sampleThreshold(w)}'" }
        .mkString(" ")
      s"""SELECT doc_id, lang FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
         |  CASE lang $cases ELSE '${TextOps.sampleThreshold(0.1)}' END
         |ORDER BY doc_id""".stripMargin
    },
    "ta_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents
         |), o AS (
         |  SELECT doc_id, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, CAST(floor(start_off / 512.0) AS BIGINT) AS bin_id
         |FROM o ORDER BY doc_id""".stripMargin,
    "ta_english" -> // expected stems from the SAME hand map as ta_stemmed:
      // the possessive dressing must be invisible in the chain's output
      s"""WITH raw AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk_all
         |  FROM documents WHERE doc_id < 30
         |)
         |SELECT doc_id, CAST(pos AS INT) AS pos, term,
         |  CASE term ${stemVocab.map { case (w, st) => s"WHEN '$w' THEN '$st'" }.mkString(" ")} END AS stem
         |FROM (
         |  SELECT doc_id, unnest(tk_all) AS term, generate_subscripts(tk_all, 1) - 1 AS pos FROM raw
         |) WHERE term NOT IN (${TextOpsOracle.stopSql})
         |  AND term IN (${stemVocab.map(v => s"'${v._1}'").mkString(",")})
         |ORDER BY doc_id, pos""".stripMargin,
    "ta_icu_quotes" -> // hand-expected UAX#29 tokens of the apostrophe
      // fixture: can't(0) [the(1) dropped-but-advances] dog's(2) it's(3)
      // o'clock(4)
      s"""SELECT doc_id, CAST(pos AS INT) AS pos, term
         |FROM documents,
         |  (VALUES (0, 'can''t'), (2, 'dog''s'), (3, 'it''s'), (4, 'o''clock')) AS v(pos, term)
         |WHERE doc_id < 10
         |ORDER BY doc_id, pos""".stripMargin,
    "ta_stemmed" -> // stems come from the hand-derived CASE map (published
      // Porter rules), never from the engine — matching pins the chain
      s"""WITH raw AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk_all
         |  FROM documents WHERE doc_id < 40
         |)
         |SELECT doc_id, CAST(pos AS INT) AS pos, term,
         |  CASE term ${stemVocab.map { case (w, st) => s"WHEN '$w' THEN '$st'" }.mkString(" ")} END AS stem
         |FROM (
         |  SELECT doc_id, unnest(tk_all) AS term, generate_subscripts(tk_all, 1) - 1 AS pos FROM raw
         |) WHERE term NOT IN (${TextOpsOracle.stopSql})
         |  AND term IN (${stemVocab.map(v => s"'${v._1}'").mkString(",")})
         |ORDER BY doc_id, pos""".stripMargin,
    "mm_frame_sample" ->
      """SELECT doc_id,
        |  array_to_string(list_transform(range(0, 5), i ->
        |    CAST(i * CAST(floor(octet_length(CAST(text AS BLOB)) / 5) AS BIGINT) AS VARCHAR)), ',') AS frame_offsets
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_blob_stats" ->
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, sha256(text) AS sha256
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_resize" -> // decoded (fake) dims → floor(dim·min(224/w, 224/h))
      """WITH s AS (SELECT doc_id AS id, sha256(text) AS sha FROM documents),
        |d AS (
        |  SELECT id,
        |    CAST(64 + (ascii(substr(sha,2,1)) % 8) * 16 AS INT) AS width,
        |    CAST(64 + (ascii(substr(sha,3,1)) % 8) * 16 AS INT) AS height
        |  FROM s
        |)
        |SELECT id, width, height,
        |  CAST(floor(width * least(224.0 / width, 224.0 / height)) AS INT) AS out_w,
        |  CAST(floor(height * least(224.0 / width, 224.0 / height)) AS INT) AS out_h
        |FROM d ORDER BY id""".stripMargin,
    "mm_features" -> // digest-derived fake embedding: ascii(hex char)/255
      """WITH s AS (SELECT doc_id AS id, sha256(text) AS sha FROM documents)
        |SELECT id,
        |  ascii(substr(sha,1,1)) / 255.0 AS f0, ascii(substr(sha,2,1)) / 255.0 AS f1,
        |  ascii(substr(sha,3,1)) / 255.0 AS f2, ascii(substr(sha,4,1)) / 255.0 AS f3,
        |  ascii(substr(sha,5,1)) / 255.0 AS f4, ascii(substr(sha,6,1)) / 255.0 AS f5,
        |  ascii(substr(sha,7,1)) / 255.0 AS f6, ascii(substr(sha,8,1)) / 255.0 AS f7
        |FROM s ORDER BY id""".stripMargin,
    "mm_decode_meta" ->
      """WITH s AS (SELECT doc_id AS id, octet_length(CAST(text AS BLOB)) AS n_bytes, sha256(text) AS sha FROM documents)
        |SELECT id, CAST(n_bytes AS BIGINT) AS n_bytes, sha AS sha256,
        |  CASE ascii(substr(sha,1,1)) % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' WHEN 2 THEN 'wav' ELSE 'mp4' END AS format,
        |  CAST(64 + (ascii(substr(sha,2,1)) % 8) * 16 AS INT) AS width,
        |  CAST(64 + (ascii(substr(sha,3,1)) % 8) * 16 AS INT) AS height,
        |  CAST(1 + (ascii(substr(sha,4,1)) % 30) AS INT) AS n_frames
        |FROM s ORDER BY id""".stripMargin)
}
