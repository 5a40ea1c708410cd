"""Regenerate PLANS.md: .explain evidence for pushdown, pruning,
broadcast choice, codegen coverage and the single-action superstep."""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from credigraph_spark.session import get_spark


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def grep(text: str, pattern: str, context: int = 0) -> str:
    out, lines = [], text.splitlines()
    for i, ln in enumerate(lines):
        if re.search(pattern, ln):
            out.extend(lines[max(0, i - context):i + context + 1])
    return "\n".join(out)


def main():
    spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")

    sections = []

    # 1. extraction scan: filter + column pruning reach the parquet scan
    import tempfile

    from credigraph_spark import corpus
    from credigraph_spark.extraction import extract_edges_named
    repos_path = tempfile.mkdtemp(prefix="plans_repos_") + "/repos"
    corpus.repos_df(spark).write.parquet(repos_path)
    repos = spark.read.parquet(repos_path)
    p = plan_of(extract_edges_named(repos, langs=["py"]), "simple")
    sections.append(("extraction scan (lang filter -> parquet, schema pruned)",
                     grep(p, "FileScan")))

    # 1b. SQL extractor: the whole pipeline with zero Python eval nodes
    p = plan_of(extract_edges_named(repos, langs=["py"], extractor="sql"),
                "simple")
    sections.append(("extraction, extractor='sql' (regexp_extract_all in "
                     "codegen — no ArrowEvalPython/BatchEvalPython node)",
                     grep(p, "ArrowEval|BatchEval|Generate|FileScan") or
                     grep(p, "Generate|FileScan")))

    # 2. exact_dedup scan pruning
    from credigraph_spark.pipeline import exact_dedup
    p = plan_of(exact_dedup(docs), "simple")
    sections.append(("exact_dedup scan (only doc_id,text read)", grep(p, "FileScan")))

    # 3. cosine_topk: broadcast nested loop, never a shuffled cartesian
    from credigraph_spark.pipeline import cosine_topk_bruteforce
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    p = plan_of(cosine_topk_bruteforce(emb.where("vec_id < 5"), emb), "simple")
    sections.append(("cosine_topk joins", grep(p, "Join")))

    # 4. suffix-match / PSL joins: rules side broadcast
    from credigraph_spark.functions import flip_if_needed_frame
    doms = docs.select(F.concat(F.lit("co.uk."), F.col("source")).alias("domain"))
    p = plan_of(flip_if_needed_frame(doms, "domain"), "simple")
    sections.append(("flip_if_needed_frame joins (PSL rules broadcast)",
                     grep(p, "Join")))

    # 5. text_quality: one whole-stage codegen span over the scan, zero UDFs
    from credigraph_spark.pipeline import text_quality
    p = plan_of(text_quality(docs), "formatted")
    head = "\n".join(p.splitlines()[:12])
    sections.append(("text_quality codegen spans (explain-formatted; no "
                     "BatchEvalPython/ArrowEvalPython anywhere)", head))

    # 6. simhash: pure SQL aggregation (no Python eval nodes)
    from credigraph_spark.pipeline.dedup import simhash
    p = plan_of(simhash(docs), "simple")
    agg = grep(p, "HashAggregate|ArrowEval|BatchEval")[:600]
    sections.append(("simhash plan (SQL aggregation, no Python nodes)", agg))

    # 7. single-action CC superstep: capture the job plan via explain of the
    # pre-checkpoint frame (CollectMetrics = the Observation riding the job)
    from credigraph_spark.graph.adjacency import clean_edges, symmetrize
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
    und = symmetrize(clean_edges(li)).repartition(8, "src")
    labels = und.select(F.col("src").alias("vid")).distinct().select(
        "vid", F.col("vid").alias("component"))
    msgs = (und.join(labels.withColumnRenamed("vid", "src"), "src")
            .groupBy(F.col("dst").alias("vid")).agg(F.min("component").alias("nbr_min")))
    stepped = (labels.select("vid", F.col("component").alias("prev"))
               .join(msgs, "vid", "left")
               .select("vid", "prev", F.least(F.col("prev"), F.coalesce("nbr_min", F.col("prev"))).alias("component")))
    jump = stepped.select(F.col("vid").alias("component"), F.col("component").alias("_jump"))
    from pyspark.sql import Observation
    obs = Observation("plan_cc")
    step = (stepped.join(jump, "component", "left")
            .select("vid", "prev", F.least("component", F.coalesce("_jump", "component")).alias("component"))
            .observe(obs, F.sum((F.col("component") != F.col("prev")).cast("long")).alias("changed"))
            .select("vid", "component"))
    p = plan_of(step, "simple")
    sections.append(("CC superstep (one job: CollectMetrics carries the "
                     "changed-count; localCheckpoint is the only action)",
                     grep(p, "CollectMetrics|Join|HashAggregate")))

    # 8. CC pointer-jump de-skew: late-round strategy broadcasts the
    # semi-reduced label→jump map, so the giant component's probe rows never
    # co-locate (the plan shows BroadcastHashJoin for both the semi-reduce
    # and the jump itself — no shuffled join keyed by the hot label).
    cur = stepped.select("component").distinct()
    jump_small = jump.join(F.broadcast(cur), "component", "semi")
    bstep = (stepped.join(F.broadcast(jump_small), "component", "left")
             .select("vid", F.least("component", F.coalesce("_jump", "component")).alias("component")))
    p = plan_of(bstep, "simple")
    sections.append(("CC pointer-jump, broadcast strategy (late rounds: "
                     "semi-reduced jump map broadcast — skewed label never "
                     "shuffles; strategy picked per-round from an "
                     "Observation-carried approx_count_distinct)",
                     grep(p, "Join")))

    # 9. IVF ANN: centroid table broadcast (assignment streams the corpus
    # once, no corpus shuffle); argmax is a partial/final HashAggregate
    # pair (map-side combine collapses the n_lists rows per vector before
    # the exchange); probe join shuffles only on list_id.
    from credigraph_spark.pipeline import ivf_topk
    p = plan_of(ivf_topk(emb.where("vec_id < 5"), emb, k=5, n_lists=8,
                         nprobe=3), "simple")
    sections.append(("ivf_topk (broadcast centroids; partial-agg argmax; "
                     "list_id-keyed probe join)",
                     grep(p, "Join|HashAggregate")[:1400]))

    # 10. HITS half-step: ONE job per half-step — the eager localCheckpoint
    # fills an Observation with the raw L1 sum (CollectMetrics rides the
    # plan, like PageRank's dangling mass) and normalization divides by the
    # observed value as a literal, so the half-step lineage is never
    # re-executed by a scalar subquery. Contribution sums are partial/final
    # HashAggregate pairs. Rebuilt pre-checkpoint (hits() returns a
    # checkpointed frame with truncated lineage), same shape as
    # graph/hits.py's _half_step.
    he = clean_edges(li)
    hverts = (he.select(F.col("src").alias("vid"))
              .unionByName(he.select(F.col("dst").alias("vid"))).distinct())
    hstate = hverts.select("vid", F.lit(0.5).alias("score"))
    contrib = (he.join(hstate.select(F.col("vid").alias("src"), "score"), "src")
               .groupBy(F.col("dst").alias("vid")).agg(F.sum("score").alias("raw")))
    obs_h = Observation("plan_hits")
    araw = (hverts.join(contrib, "vid", "left")
            .select("vid", F.coalesce("raw", F.lit(0.0)).alias("raw"))
            .observe(obs_h, F.sum("raw").alias("s")))
    p = plan_of(araw, "simple")
    sections.append(("hits half-step (CollectMetrics carries the L1 "
                     "divisor; partial-agg contribution sums; no scalar-"
                     "subquery re-execution)",
                     grep(p, "CollectMetrics|Join|HashAggregate")[:1200]))

    # 11. k-core peel round: degree filter is a partial/final agg, the
    # survivor restriction is two semi joins on the same (src/dst) keys the
    # degree agg already hashed by — no extra exchange shape per round.
    from credigraph_spark.graph import k_core
    core, _ = k_core(clean_edges(li), k=3, max_rounds=1)
    p = plan_of(core, "simple")
    sections.append(("k-core peel round (partial-agg degree, semi-join "
                     "survivor restriction)",
                     grep(p, "Join|HashAggregate")[:1200]))

    # 12. url_join split (VERDICT r3 #1): resolve_links filters JVM-
    # resolvable links into a pure-codegen branch — its EXECUTED plan has
    # no ArrowEvalPython — and unions the relative minority through the
    # stdlib-urljoin UDF; contrast with the old when/otherwise Column form
    # whose executed plan evaluated the UDF for every row.
    from credigraph_spark.web import resolve_link_branches
    pairs = docs.limit(50).select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/a/b")).alias("base"),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("https://"), F.col("source"), F.lit("/x")))
        .otherwise(F.lit("rel/p.html")).alias("link"))
    fastb, slowb = resolve_link_branches(pairs, "base", "link", "dst")
    fast_exec = fastb._jdf.queryExecution().executedPlan().toString()
    slow_exec = slowb._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in fast_exec and "BatchEvalPython" not in fast_exec
    fast_head = "\n".join(fast_exec.splitlines()[:10])
    slow_udf = grep(slow_exec, "ArrowEvalPython|PythonUDF|Filter")[:500]
    sections.append(("url_join split — FAST branch executed plan (absolute/"
                     "protocol-relative links; asserted: no ArrowEvalPython/"
                     "BatchEvalPython node)", fast_head))
    sections.append(("url_join split — SLOW branch (relative-link minority "
                     "only; the ONLY place ArrowEvalPython appears)", slow_udf))

    # 15. weighted SSSP relax round: min-agg over union(state, candidates)
    # is map-side combinable — the plan shows partial_min under a
    # HashAggregate pair, so a hub's candidate rows combine before the
    # exchange (skew-immune, same argument as ANF's bit_or).
    wedges = li.select("src", "dst", (F.pmod(F.xxhash64("src", "dst"),
                                             F.lit(9)) + 1)
                       .cast("double").alias("w"))
    state = (wedges.select(F.col("src").alias("vid")).distinct().limit(3)
             .select("vid", F.lit(0.0).alias("dist")))
    cand = (state.join(wedges.withColumnRenamed("src", "vid"), "vid")
            .select(F.col("dst").alias("vid"),
                    (F.col("dist") + F.col("w")).alias("dist")))
    relaxed = (state.unionByName(cand)
               .groupBy("vid").agg(F.min("dist").alias("dist")))
    p = plan_of(relaxed, "formatted")
    sections.append(("weighted SSSP relax round (partial_min before the "
                     "exchange: hub fan-in combines map-side)",
                     grep(p, "HashAggregate|partial_min|Exchange")[:700]))

    # 16. Katz superstep: contribution sum is partial-aggregatable and
    # the base merge is a plain shuffled join on vid — no broadcast of
    # per-iteration state, no Python anywhere in the loop.
    from credigraph_spark.graph.katz import katz_centrality

    kz, _ = katz_centrality(li.select("src", "dst").limit(5000),
                            alpha=0.05, max_iter=1)
    p = plan_of(kz, "formatted")
    sections.append(("Katz superstep (partial sum before the exchange; "
                     "whole loop JVM-side)",
                     grep(p, "HashAggregate|partial|Exchange|Python")[:700]))

    # 17. stratified sample: TWO window exchanges, the first keyed
    # (lang, _salt) so the biggest stratum fans out 64-way; the second
    # sees <= k*salts rows per stratum — never a whole-stratum sort in
    # one task.
    from credigraph_spark.pipeline.sampling import stratified_sample

    ss = stratified_sample(docs, "lang", k=5, key_cols=["doc_id"], seed=42)
    p = plan_of(ss, "formatted")
    sections.append(("stratified sample (salted first window, bounded "
                     "second window)",
                     grep(p, "Window|Exchange|hashpartitioning")[:900]))

    # 18. gopher/c4/dsir quality signals: per-row array folds — no
    # Python eval nodes anywhere; dsir's distribution pass is ONE
    # 256-key hash aggregate and the log-ratio table comes back as a
    # BroadcastHashJoin.
    from credigraph_spark.pipeline.textstats import (
        c4_line_stats, dsir_importance, gopher_quality)

    p = plan_of(gopher_quality(docs), "simple")
    sections.append(("gopher_quality (single Project over the scan; no "
                     "Exchange, no Python nodes)",
                     grep(p, "ArrowEval|BatchEval|Exchange|Project|FileScan")[:600]))
    p = plan_of(c4_line_stats(docs), "simple")
    sections.append(("c4_line_stats (same shape: scan -> Project)",
                     grep(p, "ArrowEval|BatchEval|Exchange|Project|FileScan")[:600]))
    p = plan_of(dsir_importance(docs, target=F.col("doc_id") % 20 == 0),
                "formatted")
    sections.append(("dsir_importance (bounded 256-key HashAggregate; "
                     "log-ratio table re-enters as BroadcastHashJoin; no "
                     "Python)",
                     grep(p, "HashAggregate|Broadcast|ArrowEval|Exchange")[:900]))

    # 19. simrank candidate cut: TakeOrderedAndProject (per-partition
    # heaps + driver merge), NOT a single-partition global sort/window.
    from credigraph_spark.graph.simrank import simrank2_topk

    sr = simrank2_topk(li.select("src", "dst").limit(3000), k=5)
    p = plan_of(sr, "simple")
    sections.append(("simrank2_topk executed plan tail (the rnk window "
                     "sees <= n_candidates rows; the s1 cut compiled to "
                     "TakeOrderedAndProject upstream)",
                     grep(p, "TakeOrdered|Window|Exchange")[:700] or
                     "plan truncated by localCheckpoint (cut verified in "
                     "pre-checkpoint capture below)"))
    # pre-checkpoint shape: capture the candidate-cut subplan directly
    from credigraph_spark.graph.adjacency import clean_edges as _ce
    e5 = _ce(li.select("src", "dst").limit(3000)).dropDuplicates(["src", "dst"])
    inn5 = e5.select(F.col("dst").alias("v"), F.col("src").alias("i"))
    d5 = inn5.groupBy("v").agg(F.count("*").alias("d"))
    p5 = (inn5.alias("l").join(inn5.alias("r"), F.col("l.i") == F.col("r.i"))
          .where(F.col("l.v") < F.col("r.v"))
          .groupBy(F.col("l.v").alias("a"), F.col("r.v").alias("b"))
          .agg(F.count("*").alias("common")))
    s15 = (p5.join(d5.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
           .join(d5.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
           .select("a", "b", F.round(0.8 * F.col("common")
                                     / (F.col("da") * F.col("db")), 6)
                   .alias("s1")))
    p = plan_of(s15.orderBy(F.desc("s1"), "a", "b").limit(100), "simple")
    sections.append(("simrank s1 candidate cut (TakeOrderedAndProject — "
                     "distributed top-N, no global Exchange for the sort)",
                     grep(p, "TakeOrdered|Sort|Exchange")[:500]))

    # 20. quantize_int8: pure per-row Project, zero Exchange.
    from credigraph_spark.pipeline.similarity import quantize_int8_stats

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    p = plan_of(quantize_int8_stats(emb), "simple")
    sections.append(("quantize_int8 (scan -> Project, no Exchange/Python)",
                     grep(p, "Exchange|Project|FileScan|ArrowEval")[:500]))

    # 21. (round 5, fifth wave) zipf_fit head cut: TakeOrderedAndProject
    # over the term-count agg, corpus totals via CollectMetrics on the
    # same stream — ONE pass, no second scan, no global window.
    tf = (docs.select(F.explode(F.split(F.lower(F.col("text")),
                                        "[^a-z0-9]+")).alias("term"))
          .where(F.col("term") != "")
          .groupBy("term").agg(F.count("*").alias("freq")))
    from pyspark.sql import Observation
    ob = Observation("plans_zipf")
    p = plan_of(tf.observe(ob, F.sum("freq"), F.count(F.lit(1)))
                .orderBy(F.col("freq").desc(), F.col("term").asc())
                .limit(1000), "simple")
    sections.append(("zipf_fit head (TakeOrderedAndProject + "
                     "CollectMetrics totals on the same stream — one scan)",
                     grep(p, "TakeOrdered|CollectMetrics|HashAggregate"
                          )[:600]))

    # 22. heaps_fit: scan -> per-row folds -> one partial aggregate;
    # zero Exchange before the final agg, zero Python.
    from credigraph_spark.pipeline.textstats import heaps_fit
    p = plan_of(heaps_fit(docs), "simple")
    sections.append(("heaps_fit (per-row folds + single HashAggregate; "
                     "no ArrowEval/BatchEval)",
                     grep(p, "HashAggregate|Exchange|ArrowEval|FileScan"
                          )[:600]))

    # 23. temporal_triangles wedge: the delta-window band lives IN the
    # join condition (pushed into the join, not a post-filter over the
    # full wedge product).
    from credigraph_spark.graph.temporal_motifs import temporal_triangles
    li_ts = li.select("src", "dst",
                      (F.pmod(F.xxhash64("src", "dst"), F.lit(100)))
                      .alias("ts")).limit(5000)
    p = plan_of(temporal_triangles(li_ts, delta=10), "simple")
    sections.append(("temporal_triangles (joins + bounded count aggs; "
                     "wedge checkpoint truncates upstream)",
                     grep(p, "Join|HashAggregate")[:600]))

    # 24. rfm_segments: three range exchanges (the O3 rankings), no
    # single-partition global window on the customer stream.
    from credigraph_spark.analytics import rfm_segments
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    p = plan_of(rfm_segments(orders), "simple")
    sections.append(("rfm_segments (rangepartitioning exchanges for the "
                     "rankings; windows keyed by _pid, never a global "
                     "single-partition window)",
                     grep(p, "rangepartitioning|Window|Exchange")[:700]))

    # 25. ks_split_drift: both CDFs via the O3 construction — the only
    # windows are _pid-keyed; no single-partition global cumsum.
    from credigraph_spark.pipeline.sampling import ks_split_drift
    p = plan_of(ks_split_drift(docs, ["doc_id"], "n_chars",
                               {"train": 0.8, "val": 0.1, "test": 0.1},
                               seed=7), "simple")
    sections.append(("ks_split_drift (O3 cumulative CDFs: "
                     "rangepartitioning + _pid windows)",
                     grep(p, "rangepartitioning|Window")[:700]))

    # 26. source_js_divergence: the zero-side grid stays bounded —
    # vocab broadcasts into the pair grid, distributions join back.
    from credigraph_spark.pipeline.textstats import source_js_divergence
    p = plan_of(source_js_divergence(docs, vocab_k=50), "simple")
    sections.append(("source_js_divergence (broadcast vocab grid + "
                     "id-keyed distribution joins)",
                     grep(p, "Broadcast|HashAggregate")[:600]))

    # 27. pii_scrub: pure per-row regexp chain — zero Exchange, zero
    # Python, one WholeStageCodegen over the scan.
    from credigraph_spark.pipeline.safety import pii_scrub
    p = plan_of(pii_scrub(docs), "simple")
    sections.append(("pii_scrub (per-row regexp chain: no Exchange, "
                     "no ArrowEval, one codegen span)",
                     grep(p, "Project|Scan|Exchange|Python")[:400]))

    # 28. lm_cross_entropy: two bounded aggs + the logprob table
    # broadcast back onto tf.
    from credigraph_spark.pipeline.textstats import lm_cross_entropy
    p = plan_of(lm_cross_entropy(docs), "simple")
    sections.append(("lm_cross_entropy (vocab agg + BroadcastHashJoin of "
                     "the logprob table onto tf)",
                     grep(p, "Broadcast|HashAggregate")[:600]))

    # 29. blocklist_screen: literal array in the plan, per-row filter.
    from credigraph_spark.pipeline.safety import blocklist_screen
    p = plan_of(blocklist_screen(docs, ["slow", "junk"]), "simple")
    sections.append(("blocklist_screen (literal blocklist array, "
                     "zero Exchange)",
                     grep(p, "Project|Scan|Exchange|Python")[:400]))

    # 30. skew_report core: windows keyed over the count-of-counts
    # histogram only (the _one constant key is over a bounded table).
    from credigraph_spark.analytics import skew_report
    edges_sk = spark.createDataFrame(
        [(i % 7, i % 3) for i in range(50)], "src LONG, dst LONG")
    p = plan_of(skew_report(edges_sk, "dst"), "simple")
    sections.append(("skew_report (two HashAggregates feed the histogram; "
                     "window input is the bounded distinct-frequency table)",
                     grep(p, "HashAggregate|Window|Exchange")[:600]))

    # 31. naive_bayes scoring: class-token table broadcast onto test tf
    from credigraph_spark.pipeline.classify import naive_bayes_lang
    p = plan_of(naive_bayes_lang(docs), "simple")
    sections.append(("naive_bayes (class-token count table broadcast onto "
                     "test tf; per-(doc,class) partial-agg sum)",
                     grep(p, "BroadcastHashJoin|HashAggregate")[:600]))

    # 32-34 end in localCheckpoint (lineage truncation), which hides the
    # plan from .explain — identity-patch it for the capture only.
    from pyspark.sql.classic.dataframe import DataFrame as _DF
    _orig_lck = _DF.localCheckpoint
    _DF.localCheckpoint = lambda self, eager=True: self

    # 32. hashed_logreg final weight table: broadcast forward pass,
    # per-bucket gradient agg — weight state a table, not driver literals
    from credigraph_spark.pipeline.classify import hashed_text_logreg
    p = plan_of(hashed_text_logreg(docs, label=F.col("lang") == "en",
                                   n_buckets=16, iters=1), "simple")
    sections.append(("hashed_logreg (features x broadcast(w) forward pass; "
                     "per-bucket HashAggregate backward pass)",
                     grep(p, "Broadcast|HashAggregate|Exchange")[:700]))

    # 33. dcsbm_loglik: block-pair table is |blocks|^2 max — aggregation
    # over a bounded table, label joins broadcastable
    from credigraph_spark.analytics import dcsbm_loglik
    edges_db = spark.createDataFrame(
        [(i % 9, (i * 3) % 11 + 20) for i in range(60)], "src LONG, dst LONG")
    lab_db = spark.createDataFrame(
        [(v, v % 3) for v in range(40)], "vid LONG, label LONG")
    p = plan_of(dcsbm_loglik(edges_db, lab_db), "simple")
    sections.append(("dcsbm_loglik (two label joins -> bounded block-pair "
                     "HashAggregate; quantized decimal term sum)",
                     grep(p, "HashAggregate|Join|Exchange")[:700]))

    # 34. tri_incremental: wedge join driven from the NEW edge side;
    # new-edge flag joins broadcast
    from credigraph_spark.graph.triangles import incremental_triangles
    base_ti = spark.createDataFrame(
        [(i % 8, (i * 5) % 13 + 10) for i in range(40)], "src LONG, dst LONG")
    delta_ti = spark.createDataFrame(
        [(1, 11), (2, 12), (3, 13)], "src LONG, dst LONG")
    p = plan_of(incremental_triangles(base_ti, delta_ti), "simple")
    sections.append(("tri_incremental (delta-driven wedge join; 3 new-edge "
                     "flag joins BROADCAST — base graph only contributes "
                     "adjacency)",
                     grep(p, "BroadcastHashJoin|SortMergeJoin|HashAggregate")
                     [:700]))
    _DF.localCheckpoint = _orig_lck

    # 35. mixture_weights: per-row token_count expressions (no explode),
    # ONE map-side-combinable groupBy over sources
    from credigraph_spark.pipeline.sampling import mixture_weights
    p = plan_of(mixture_weights(docs), "simple")
    sections.append(("mixture_weights (no Generate/explode node: per-row "
                     "size(split()) into one HashAggregate + broadcast "
                     "1-row total)",
                     grep(p, "Generate|HashAggregate|Broadcast")[:500]))

    # 36. hll_distinct: max(rho) is map-side combinable — no distinct
    # pre-pass Exchange before the register agg
    from credigraph_spark.pipeline.sketch import hll_distinct
    events = spark.read.parquet(f"{sf}/events.parquet")
    p = plan_of(hll_distinct(events, ["event_type"], "user_id", b=6),
                "simple")
    sections.append(("hll_distinct (register max is partial-agg'd map-side; "
                     "single Exchange on the bounded (group,bucket) keys)",
                     grep(p, "HashAggregate|Exchange")[:600]))

    # 37. bloom prefilter: bitmap rides as ONE BroadcastNestedLoopJoin
    # row; the membership test is a per-row Filter — no shuffle, no join
    # keyed on the data
    from credigraph_spark.pipeline.sketch import (bloom_build,
                                                  bloom_filter_rows)
    members37 = spark.createDataFrame([(i,) for i in range(0, 200, 9)],
                                      "key LONG")
    bl37 = bloom_build(members37, "key", m_bits=256, k_hashes=3)
    big37 = spark.createDataFrame([(i,) for i in range(200)], "key LONG")
    p = plan_of(bloom_filter_rows(big37, "key", bl37, m_bits=256,
                                  k_hashes=3), "simple")
    sections.append(("bloom_prefilter (single broadcast bitmap row + "
                     "per-row Filter; zero Exchange on the probed side)",
                     grep(p, "Broadcast|Filter|Exchange")[:500]))

    # 38. zorder keys: per-row bit interleave over one broadcast
    # min/max row — no Exchange, no Generate
    from credigraph_spark.store import zorder_key
    grid38 = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x LONG, y LONG")
    p = plan_of(zorder_key(grid38, ["x", "y"], bits=3), "simple")
    sections.append(("zorder_key (broadcast 1-row min/max + per-row "
                     "interleave fold; no data Exchange)",
                     grep(p, "Broadcast|Exchange|Project")[:400]))

    # 39. SNM: O3 distributed rank (range exchange + bounded offsets
    # broadcast) then an EQUI-join on rank+offset — no range join
    from credigraph_spark.pipeline.dedup import snm_candidate_pairs
    p = plan_of(snm_candidate_pairs(
        docs, sort_key=F.lower(F.substring("text", 1, 20)), window=4),
        "simple")
    sections.append(("snm_candidate_pairs (rangepartitioning exchange "
                     "for the rank; the window comparisons are a "
                     "SortMergeJoin/BroadcastHashJoin on rank equality — "
                     "no BroadcastNestedLoop)",
                     grep(p, "rangepartitioning|Join|Exchange")[:700]))

    # 40. filter ablation: every pairwise co-kill from ONE HashAggregate
    from credigraph_spark.pipeline.ablation import filter_ablation
    fa40 = spark.createDataFrame([(i, i % 3 != 0) for i in range(30)],
                                 "doc_id LONG, keep BOOLEAN")
    fb40 = spark.createDataFrame([(i, i % 4 != 0) for i in range(30)],
                                 "doc_id LONG, keep BOOLEAN")
    import io as _io
    from contextlib import redirect_stdout as _rs
    buf40 = _io.StringIO()
    # the operator collects its 1-row aggregate; capture the joined agg
    # plan via the same construction
    j40 = (fa40.selectExpr("doc_id", "cast(not keep as long) _k0")
           .join(fb40.selectExpr("doc_id", "cast(not keep as long) _k1"),
                 "doc_id"))
    agg40 = j40.agg(F.sum(F.expr("_k0 * _k0")), F.sum(F.expr("_k0 * _k1")),
                    F.sum(F.expr("_k1 * _k1")))
    with _rs(buf40):
        agg40.explain(mode="simple")
    sections.append(("filter_ablation core (ALL pairwise co-kill sums in "
                     "one partial/final HashAggregate pass)",
                     grep(buf40.getvalue(), "HashAggregate|Join")[:500]))

    # 41. triad class census: no BroadcastNestedLoop anywhere — the
    # three dyad lookups are equi-joins, the classify is pure project
    from credigraph_spark.graph.triads import triad_class_census
    e41 = spark.createDataFrame(
        [(i, (i * 7) % 23 + 1) for i in range(1, 60)], "src LONG, dst LONG")
    p = plan_of(triad_class_census(e41), "simple")
    sections.append(("triad_class_census (three dyad equi-joins + CASE "
                     "classify; no BroadcastNestedLoop, no UDF)",
                     (grep(p, "NestedLoop|Eval") or "no nested-loop / no "
                      "Python-eval node in the plan") + "\n"
                     + grep(p, "HashAggregate")[:300]))

    # 42. dup_spans: ONE Generate (the window explode), per-DOC window
    # sort keyed by doc (never a global sort), no Python eval
    from credigraph_spark.pipeline.dedup import dup_span_stats
    p = plan_of(dup_span_stats(docs, k=5), "simple")
    sections.append(("dup_span_stats (one Generate for the k-gram "
                     "explode; island windows partitioned by doc id — "
                     "hashpartitioning, not a global sort; zero "
                     "ArrowEval/BatchEval nodes)",
                     grep(p, "Generate")[:220] + "\n"
                     + grep(p, "Window").strip()[:400] + "\n"
                     + (grep(p, "ArrowEval|BatchEval")
                        or "no Python-eval nodes")))

    # 43. touch_attribution: all three window aggregates share ONE
    # user-keyed exchange + sort (a single Window node)
    from credigraph_spark.temporal import touch_attribution
    ev43 = spark.createDataFrame(
        [(1, i * 1000000, "view" if i % 3 else "purchase", i)
         for i in range(1, 40)],
        "user_id LONG, ts_us LONG, event_type STRING, event_id LONG")
    p = plan_of(touch_attribution(ev43), "simple")
    n_windows = p.count("Window ")
    sections.append(("touch_attribution (struct MIN/MAX + count share one "
                     "RANGE-frame Window over one hashpartitioning("
                     "user_id) exchange)",
                     f"Window nodes in plan: {n_windows}\n"
                     + grep(p, "Window |hashpartitioning\\(user_id")
                     .strip()[:500]))

    with open("/root/repo/PLANS.md", "w") as f:
        f.write("# PLANS — physical-plan spot checks (.explain evidence)\n\n")
        f.write("Captured from executed plans at small scale; the properties\n"
                "(pushdown, pruning, broadcast choice, codegen coverage, the\n"
                "Observation-carried superstep) are scale-invariant.\n"
                "Regenerate: python scripts_local/capture_plans.py\n\n")
        for title, body in sections:
            f.write(f"## {title}\n\n```\n{body.strip()}\n```\n\n")
        f.write("""## Iterative superstep plans (PageRank)

* shuffle mode: cached edges hash-partitioned by `src` (exchange reuse);
  per superstep only the sparse rank state is exchanged; contributions use
  targeted two-phase salted aggregation.
* broadcast mode: cached edges hash-partitioned by `dst`; rank state
  broadcast; contribution aggregation partition-local (no exchange).
* ONE driver action per superstep in all three algorithms: the eager
  localCheckpoint materializes the state and fills the Observations
  (PageRank: dangling mass + L1; CC/LPA: changed count) — see the
  CollectMetrics node above riding the superstep plan.
* AQE is PAUSED inside superstep loops (session.loop_tuning): static stage
  shapes gain nothing from runtime re-planning and its per-job latency
  (~0.5 s/superstep measured) dominates the serial floor.
* lineage: localCheckpoint per superstep truncates the plan (CC/LPA plans
  self-reference twice; PageRank's grows linearly otherwise).
""")
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
