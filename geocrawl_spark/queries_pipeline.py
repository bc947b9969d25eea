"""Driver-oracle query suite, part 3: the operators that turn pairwise
dedup/scoring into a PRODUCTION training-data pipeline — cluster
resolution (which docs to actually keep), quality filtering (Gopher-style
repetition battery), host-graph ranking (frontier prioritization), and
deterministic stratified sampling / sharding (data mixing).

No reference counterpart (the reference stops at per-file extraction);
these follow the published webtext-pipeline recipes: MinHash-LSH
candidate pairs -> connected components -> canonical keeper (Lee et al.,
"Deduplicating Training Data Makes Language Models Better"), repetition
filters (Rae et al., Gopher, Table A1), PageRank (Page et al.) as the
crawl-priority signal, and hash-threshold sampling for reproducible
data mixing.

Portability rules (so the DuckDB oracle hash-matches — same contract as
queries_ml): md5-only hashing, floats rounded before ranking AND between
fixed-point iterations (the Lloyd-step precedent: both engines then feed
identical doubles into the next step), ties broken by ids, iteration
counts fixed and deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_core import ORACLE_SQL, _q, _t
from .queries_ml import _INTER_CTES, _words, dedup_ngram_jaccard

# ---------------------------------------------------------------------------
# dedup cluster resolution: LSH pairs -> connected components -> keepers
# ---------------------------------------------------------------------------

#: min-label propagation iteration cap.  Convergence needs O(component
#: diameter) rounds; near-dup components are star/clique-shaped (docs
#: similar to a common template), so diameters stay tiny.  The cap is a
#: runaway fence, not a tuning knob — hitting it raises.
_CC_MAX_ITERS = 50


def _cc_min_label(edges: DataFrame) -> DataFrame:
    """Connected components over an undirected edge list (``doc_a`` <
    ``doc_b``) by iterative min-label propagation: every node starts as
    its own label; each round every node takes the min label in its
    closed neighborhood; converged when the global label sum stops
    falling (labels only ever decrease, so the sum is a strictly
    decreasing convergence witness costing one tiny agg action per
    round).

    Scale notes: each round is one shuffle on doc id (join + groupBy
    min) — the standard Spark CC shape; production corpora with deep
    chain components would swap in large-star/small-star (Kiveris et
    al., "Connected Components in MapReduce"), which squares path
    lengths and converges in O(log d) rounds over the same join/groupBy
    primitives.  Lineage is truncated with localCheckpoint every round
    so the plan stays O(1) deep regardless of iteration count.
    """
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        # materialize once: the edge list is joined EVERY round — without
        # this its upstream lineage (e.g. the whole LSH candidate
        # pipeline) re-executes per iteration
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("lab", F.col("doc"))
    )
    prev_sum = None
    for _ in range(_CC_MAX_ITERS):
        neigh = (
            sym.join(labels, sym.dst == labels.doc)
            .select(F.col("src").alias("doc"), "lab")
        )
        labels = (
            labels.unionByName(neigh)
            .groupBy("doc")
            .agg(F.min("lab").alias("lab"))
            .localCheckpoint(eager=False)
        )
        cur = labels.agg(
            F.sum("lab").alias("s"), F.count("*").alias("n")
        ).collect()[0]
        cur_sum = (cur["s"], cur["n"])
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected components did not converge in {_CC_MAX_ITERS} rounds"
    )


def _cc_star(edges: DataFrame, max_phases: int = 60) -> tuple[DataFrame, int]:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): each phase links every node's neighbors to the
    minimum of its closed neighborhood, (roughly) squaring path lengths,
    so convergence is O(log^2 n) PHASES REGARDLESS OF COMPONENT DIAMETER
    — the scale path for chain-shaped components where min-label
    propagation (:func:`_cc_min_label`) needs O(diameter) rounds.

    Each phase is one groupBy(min) + join + distinct over the edge list
    (shuffle keyed on node id, map-side combinable) — no per-node
    collect_list, so a 10^8-degree hub never materializes its
    neighborhood in one task.  Convergence witness: (count,
    xxhash64-sum) signature of the canonical edge set, one 1-row agg
    action per large+small PAIR (monotonicity makes an unchanged pair a
    sufficient fixed-point proof); lineage truncated per phase with
    localCheckpoint.

    Returns ``(labels, n_phases)`` with the same (doc, lab) schema as
    :func:`_cc_min_label`.
    """
    nodes = (
        edges.select(F.col("doc_a").alias("doc"))
        .unionByName(edges.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    e = (
        edges.select(
            F.least("doc_a", "doc_b").alias("a"),
            F.greatest("doc_a", "doc_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # materialize: phase 1 reads this twice (sym union + signature)
        .localCheckpoint(eager=False)
    )
    prev_sig, phases = None, 0
    for i in range(max_phases):
        phases = i + 1
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        j = sym.join(mins, "u").withColumn("m", F.least("mn", "u"))
        if i % 2 == 0:  # large-star: strictly larger neighbors -> min
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("x"), F.col("m").alias("y")
            )
        else:  # small-star: smaller neighbors AND u itself -> min
            out = (
                j.filter(F.col("v") < F.col("u"))
                .select(F.col("v").alias("x"), F.col("m").alias("y"))
                .unionByName(j.select(F.col("u").alias("x"), F.col("m").alias("y")))
            )
        e = (
            out.filter(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # fixed point = NEITHER operator changes the edge set.  The
        # witness is checked once per large+small PAIR (after the
        # small-star half): a signature unchanged across a whole pair
        # means both halves were no-ops — sufficient because
        # contraction is monotone (each node's minimum never increases,
        # so the edge set cannot change and change back within a pair).
        # Checking per-phase would need TWO consecutive unchanged
        # phases anyway (a chain can be large-star-stable while
        # small-star still contracts it) at twice the driver actions;
        # the lazy localCheckpoints of both halves materialize under
        # this single action, keeping lineage O(1).
        if i % 2 == 1:
            sig = tuple(
                e.agg(
                    F.count("*").alias("n"),
                    # decimal accumulator: ±2^63 hash values overflow a
                    # long sum under ANSI mode
                    F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
                ).collect()[0]
            )
            if sig == prev_sig:
                break
            prev_sig = sig
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_phases} phases"
        )
    sym = e.select(F.col("a").alias("doc"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("doc"), F.col("a").alias("v"))
    )
    star = (
        sym.groupBy("doc")
        .agg(F.min("v").alias("mn"))
        .select("doc", F.least("mn", "doc").alias("lab"))
    )
    return (
        nodes.join(star, "doc", "left").select(
            "doc", F.coalesce("lab", F.col("doc")).alias("lab")
        ),
        phases,
    )


def _cc_sql() -> str:
    """Oracle twin: exact reachability closure via WITH RECURSIVE (the
    union-dedup semantics bound the worklist by |component|^2 label
    pairs — fine at oracle scale, and exact).  Edges are the VERIFIED
    near-dup pairs (true Jaccard >= 0.5 over df-capped candidates —
    dedup_ngram_jaccard's contract), NOT raw LSH candidates: closing
    over unverified candidates over-merges catastrophically (measured by
    scripts/cluster_eval.py: pair precision 0.001 raw vs 1.000 verified
    at sf0.01 — one shared band out of 4 is a hint, not a duplicate, and
    transitivity amplifies every false hint into a giant cluster)."""
    return f"""
    pairs as (
      select doc_a, doc_b from ({ORACLE_SQL["dedup_ngram_jaccard"]})
    ),
    edges as (
      select doc_a as src, doc_b as dst from pairs
      union all
      select doc_b as src, doc_a as dst from pairs
    ),
    reach(doc, lab) as (
      select distinct src, src from edges
      union
      select e.dst, r.lab from reach r join edges e on e.src = r.doc
    ),
    cc as (select doc, min(lab) as cluster from reach group by doc),
    sz as (select cluster, count(*)::bigint as cluster_size from cc group by 1)
    """


@_q(
    "dedup_clusters",
    f"""
    with recursive {_cc_sql()}
    select cc.doc::bigint as doc_id, cc.cluster::bigint as cluster,
           sz.cluster_size,
           (case when cc.doc = cc.cluster then 1 else 0 end)::bigint as is_keeper
    from cc join sz using (cluster)
    """,
)
def dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER RESOLUTION: VERIFIED near-dup pairs (true
    Jaccard >= 0.5 over df-capped candidates,
    :func:`queries_ml.dedup_ngram_jaccard`) -> undirected components ->
    one canonical keeper per cluster (min doc_id — the deterministic
    production rule).  This is the operator a pipeline actually applies:
    pairwise dedup only proposes; the keep/drop decision needs the
    transitive closure, or A~B, B~C leaves both A and C in the corpus.
    VERIFY-BEFORE-CLOSURE is load-bearing: clustering raw LSH candidates
    instead merges 0.001-precision hints transitively into one giant
    cluster (measured — scripts/cluster_eval.py; verified-pair closure
    scores pair precision/recall 1.000/1.000 against the uncapped
    all-pairs truth at sf0.01 and sf0.1).  Only docs touched by at least
    one verified pair appear (untouched docs are trivially keepers)."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = _cc_min_label(edges)
    sz = labels.groupBy("lab").agg(F.count("*").cast("long").alias("cluster_size"))
    return (
        labels.join(sz, "lab")
        .select(
            F.col("doc").cast("long").alias("doc_id"),
            F.col("lab").cast("long").alias("cluster"),
            "cluster_size",
            (F.col("doc") == F.col("lab")).cast("long").alias("is_keeper"),
        )
    )


@_q(
    "dedup_clusters_star",
    f"""
    with recursive {_cc_sql()}
    select cc.doc::bigint as doc_id, cc.cluster::bigint as cluster,
           sz.cluster_size,
           (case when cc.doc = cc.cluster then 1 else 0 end)::bigint as is_keeper
    from cc join sz using (cluster)
    """,
)
def dedup_clusters_star(spark, sf_dir):
    """Same cluster-resolution contract as :func:`dedup_clusters`, but
    computed by star contraction (:func:`_cc_star`) — the O(log^2 n)
    production algorithm for corpora whose dup components can be deep
    chains (e.g. drifting boilerplate where A~B~C~... without A~C).
    Both implementations are gated against the SAME exact recursive-CTE
    oracle."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels, _ = _cc_star(edges)
    sz = labels.groupBy("lab").agg(F.count("*").cast("long").alias("cluster_size"))
    return labels.join(sz, "lab").select(
        F.col("doc").cast("long").alias("doc_id"),
        F.col("lab").cast("long").alias("cluster"),
        "cluster_size",
        (F.col("doc") == F.col("lab")).cast("long").alias("is_keeper"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filters
# ---------------------------------------------------------------------------

#: keep-thresholds (Gopher Table A1 shape, values adapted to the synthetic
#: corpus' vocabulary so both keep and drop decisions occur at test scale)
_TOP2G_MAX = 0.08
_DUP5G_MAX = 0.40
_TOPWORD_MAX = 0.10


def _grams_expr(words, n: int):
    """Overlapping word n-grams as an array column (empty when the doc is
    shorter than n words).

    ``words`` should be a PROJECTED column (``.select(split(...).alias)``)
    rather than a raw ``F.split`` expression: expression substitution
    inlines ``words`` at every reference, so an unprojected split is
    re-tokenized per gram (measured 8.7x slower at sf0.1).  slice +
    concat_ws keeps the references to one per gram."""
    sz = F.size(words)
    idx = F.sequence(F.lit(1), sz - (n - 1))
    gram = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    return F.when(sz >= n, gram).otherwise(F.array().cast("array<string>"))


def _grams_sql(n: int) -> str:
    w = "string_split(text, ' ')"
    gram = " || ' ' || ".join(f"{w}[i+{j}]" if j else f"{w}[i]" for j in range(n))
    return (
        f"case when len({w}) >= {n} then "
        f"list_transform(range(1, len({w}) - {n - 2}), i -> {gram}) "
        "else [] end"
    )


@_q(
    "gopher_repetition",
    f"""
    with g2 as (
      select doc_id, unnest({_grams_sql(2)}) as g from documents
    ),
    c2 as (select doc_id, g, count(*)::bigint as cnt from g2 group by 1, 2),
    top2 as (
      select doc_id, cnt * (length(g) + 1) as chars2 from (
        select *, row_number() over (partition by doc_id
                                     order by cnt desc, g) as rn from c2)
      where rn = 1
    ),
    g5 as (
      select doc_id, unnest({_grams_sql(5)}) as g from documents
    ),
    c5 as (select doc_id, g, count(*)::bigint as cnt from g5 group by 1, 2),
    dup5 as (
      select doc_id, sum(cnt * (length(g) + 1)) as chars5
      from c5 where cnt > 1 group by 1
    ),
    w as (select doc_id, unnest(string_split(text, ' ')) as w from documents),
    cw as (select doc_id, w, count(*)::bigint as cnt from w group by 1, 2),
    topw as (
      select doc_id, cnt from (
        select *, row_number() over (partition by doc_id
                                     order by cnt desc, w) as rn from cw)
      where rn = 1
    ),
    nw as (select doc_id, count(*)::bigint as n_words from w group by 1)
    select d.doc_id,
           round(coalesce(t2.chars2, 0) / length(d.text), 4) as top2g_frac,
           round(coalesce(d5.chars5, 0) / length(d.text), 4) as dup5g_frac,
           round(tw.cnt / nw.n_words, 4) as topword_frac,
           (case when coalesce(t2.chars2, 0) / length(d.text) <= {_TOP2G_MAX}
                  and coalesce(d5.chars5, 0) / length(d.text) <= {_DUP5G_MAX}
                  and tw.cnt / nw.n_words <= {_TOPWORD_MAX}
             then 1 else 0 end)::bigint as keep
    from documents d
      left join top2 t2 using (doc_id)
      left join dup5 d5 using (doc_id)
      join topw tw using (doc_id)
      join nw using (doc_id)
    """,
)
def gopher_repetition(spark, sf_dir):
    """Gopher-style repetition filter battery (Rae et al. 2021, Table A1
    shape): per document, the fraction of characters covered by the most
    frequent word 2-gram, by all DUPLICATED word 5-grams, and the top
    single-word frequency — plus the keep/drop decision at the module
    thresholds.  Complements :func:`queries_ml.text_quality_scores`
    (length/punct/stopword ratios): those catch junk pages, these catch
    boilerplate and spam repetition.

    Scale shape: two explode -> groupBy(doc, gram) passes with map-side
    partial aggregation — the same bounded shingle shuffle as the dedup
    family; no window wider than one document's distinct grams."""
    d = _t(spark, sf_dir, "documents")
    # tokenize once: three gram passes (2-gram, 5-gram, unigram) read ws
    dw = d.select("doc_id", F.split("text", " ").alias("ws")).localCheckpoint(
        eager=False
    )
    words = F.col("ws")

    def top_char_frac(n: int, out: str) -> DataFrame:
        g = dw.select(
            "doc_id", F.explode(_grams_expr(words, n)).alias("g")
        )
        c = g.groupBy("doc_id", "g").agg(F.count("*").cast("long").alias("cnt"))
        # per-doc argmax by (cnt desc, g asc) as min(struct(-cnt, g)) —
        # identical row to the row_number()=1 window under the same tie
        # order (struct comparison is lexicographic; (doc_id, g) is the
        # group key so the pair is unique), but a map-side combinable
        # aggregate instead of an Exchange + full per-doc sort (§2.3)
        best = c.groupBy("doc_id").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("g"))).alias("m")
        )
        return best.select(
            "doc_id",
            ((-F.col("m.nc")) * (F.length("m.g") + 1)).alias(out),
        )

    top2 = top_char_frac(2, "chars2")
    g5 = dw.select("doc_id", F.explode(_grams_expr(words, 5)).alias("g"))
    c5 = g5.groupBy("doc_id", "g").agg(F.count("*").cast("long").alias("cnt"))
    dup5 = (
        c5.filter(F.col("cnt") > 1)
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * (F.length("g") + 1)).alias("chars5"))
    )
    wtab = dw.select("doc_id", F.explode(words).alias("w")).localCheckpoint(
        eager=False
    )  # one consumer (the top-word count); the word total reads dw
    cw = wtab.groupBy("doc_id", "w").agg(F.count("*").cast("long").alias("cnt"))
    # same argmax-as-aggregate move as top_char_frac above
    topw = (
        cw.groupBy("doc_id")
        .agg(F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("w"))).alias("m"))
        .select("doc_id", (-F.col("m.nc")).alias("cnt"))
    )
    # n_words == size of the token array (split never yields an empty
    # array: "" tokenizes to [""]), so the word total is a projection of
    # the cached ws — the explode -> groupBy(doc_id) Exchange the old
    # form paid is gone (guide §2.4)
    nw = dw.select("doc_id", F.size("ws").cast("long").alias("n_words"))

    # join on the projected length, not the text payload: the wide text
    # column must not ride through four shuffles to be length()'d at the
    # end
    nchars = F.col("_nc")
    f2 = F.coalesce(F.col("chars2"), F.lit(0)) / nchars
    f5 = F.coalesce(F.col("chars5"), F.lit(0)) / nchars
    fw = F.col("cnt") / F.col("n_words")
    keep = (
        (f2 <= _TOP2G_MAX) & (f5 <= _DUP5G_MAX) & (fw <= _TOPWORD_MAX)
    )
    return (
        d.select("doc_id", F.length("text").alias("_nc"))
        .join(top2, "doc_id", "left")
        .join(dup5, "doc_id", "left")
        .join(topw, "doc_id")
        .join(nw, "doc_id")
        .select(
            "doc_id",
            F.round(f2, 4).alias("top2g_frac"),
            F.round(f5, 4).alias("dup5g_frac"),
            F.round(fw, 4).alias("topword_frac"),
            keep.cast("long").alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

#: deterministic benchmark slice: doc_id % _BENCH_MOD == 0 stands in for
#: the held-out eval set (in production: the actual benchmark corpus)
_BENCH_MOD = 97
_DECON_N = 4  # word n-gram length for the overlap test


@_q(
    "decontaminate_ngram",
    f"""
    with sh as (
      select doc_id, unnest(list_distinct({_grams_sql(_DECON_N)})) as s
      from documents
    ),
    bench as (select distinct s from sh where doc_id % {_BENCH_MOD} = 0)
    select doc_id, count(distinct s)::bigint as n_shared_4grams
    from sh
    where doc_id % {_BENCH_MOD} != 0 and s in (select s from bench)
    group by doc_id
    """,
)
def decontaminate_ngram(spark, sf_dir):
    """Benchmark DECONTAMINATION: flag training documents sharing at
    least one word 4-gram with the held-out benchmark slice — the
    standard eval-leakage guard of LLM data pipelines (verbatim-overlap
    variant; production uses 8-13-grams, shortened here so the toy
    vocabulary actually discriminates).

    Scale shape: the benchmark's distinct n-grams are tiny next to the
    corpus, so the overlap test is a BROADCAST left-semi join into the
    corpus n-gram stream — one corpus explode + map-side-combined
    groupBy(doc_id), never a corpus-vs-corpus shuffle."""
    d = _t(spark, sf_dir, "documents")
    dw = d.select("doc_id", F.split("text", " ").alias("ws"))
    sh = dw.select(
        "doc_id",
        F.explode(F.array_distinct(_grams_expr(F.col("ws"), _DECON_N))).alias("s"),
    )
    bench = sh.filter(F.col("doc_id") % _BENCH_MOD == 0).select("s").distinct()
    return (
        sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bench), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").cast("long").alias("n_shared_4grams"))
    )


# ---------------------------------------------------------------------------
# end-to-end corpus cleaning (the composition the pipeline actually ships)
# ---------------------------------------------------------------------------

@_q(
    "corpus_clean",
    f"""
    with recursive {_cc_sql()},
    ex as (
      select doc_id, min(doc_id) over (partition by md5(text)) as keeper
      from documents
    ),
    g as (select doc_id, keep from ({ORACLE_SQL["gopher_repetition"]})),
    ccl as (select doc, cluster from cc)
    select d.doc_id,
           case when e.doc_id != e.keeper then 'exact_dup'
                when c.doc is not null and c.doc != c.cluster then 'near_dup'
                when g.keep = 0 then 'repetition'
                else 'ok' end as reason,
           (case when e.doc_id = e.keeper
                  and (c.doc is null or c.doc = c.cluster)
                  and g.keep = 1
             then 1 else 0 end)::bigint as kept
    from documents d
      join ex e using (doc_id)
      left join ccl c on c.doc = d.doc_id
      join g using (doc_id)
    """,
)
def corpus_clean(spark, sf_dir):
    """The end-to-end KEEP/DROP decision a training-data pipeline ships:
    exact dedup (md5 keeper) -> near-dup cluster resolution
    (:func:`dedup_clusters_star`) -> repetition filter
    (:func:`gopher_repetition`), with a first-failing-reason column
    (precedence: exact_dup > near_dup > repetition > ok).  One
    declarative plan composing the stage operators; a production run
    materializes each stage between steps, but the decision logic — and
    its oracle — is exactly this query."""
    d = _t(spark, sf_dir, "documents")
    keeper = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    ex = d.select("doc_id", keeper.alias("keeper"))
    cc = dedup_clusters_star(spark, sf_dir).select(
        "doc_id", F.col("is_keeper").alias("_cc_keeper")
    )
    g = gopher_repetition(spark, sf_dir).select("doc_id", "keep")
    j = (
        d.select("doc_id")
        .join(ex, "doc_id")
        .join(cc, "doc_id", "left")
        .join(g, "doc_id")
    )
    reason = (
        F.when(F.col("doc_id") != F.col("keeper"), F.lit("exact_dup"))
        .when(F.col("_cc_keeper") == 0, F.lit("near_dup"))
        .when(F.col("keep") == 0, F.lit("repetition"))
        .otherwise(F.lit("ok"))
    )
    return j.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "ok").cast("long").alias("kept"),
    )


# ---------------------------------------------------------------------------
# host-graph PageRank (frontier prioritization signal)
# ---------------------------------------------------------------------------

_PR_ITERS = 5


def _host_edges_sql() -> str:
    """Deterministic host link graph derived from the documents table:
    each doc contributes two out-links from its source host to hosts
    picked by affine doc_id arithmetic (pure integers — trivially
    identical across engines).  Self-links are kept so every host has
    out-degree >= 1 (no dangling-mass term needed)."""
    return """
    hosts as (select distinct source as host from documents),
    rawe as (
      select source as u,
             'src' || (((doc_id % 20) * (doc_id % 20) + 3) % 20) as v
      from documents
      union
      select source as u,
             'src' || (((doc_id % 20) * (doc_id % 20) * (doc_id % 20) + 11) % 20) as v
      from documents
    ),
    outd as (select u, count(*)::bigint as od from rawe group by 1),
    e as (select u, v, od from rawe join outd using (u))
    """


#: fixed-point scale: ranks are integer MILLIONTHS of the total mass.
#: All iteration arithmetic is integer floor-division — bit-identical
#: across engines by construction (no float summation order, no
#: half-boundary rounding: the ADVICE-r3 failure mode for 6dp-rounded
#: double fixed points).  Floor leaks < out_degree millionths per node
#: per step — deterministic and far below the output precision.
_PR_SCALE = 1_000_000
_PR_D_PERMILLE = 850  # damping 0.85 in per-mille integer form


def _pagerank_sql() -> str:
    n = "(select count(*) from hosts)"
    base = _PR_SCALE - _PR_SCALE * _PR_D_PERMILLE // 1000  # teleport mass
    ctes = [f"pr0 as (select host, {_PR_SCALE} // {n} as r from hosts)"]
    for i in range(1, _PR_ITERS + 1):
        ctes.append(
            f"""pr{i} as (
      select h.host,
             {base} // {n}
               + ({_PR_D_PERMILLE} * coalesce(m.acc, 0)) // 1000 as r
      from hosts h left join (
        select e.v as host, sum(p.r // e.od)::bigint as acc
        from pr{i - 1} p join e on e.u = p.host group by 1
      ) m using (host)
    )"""
        )
    return ",\n    ".join(ctes)


@_q(
    "host_pagerank",
    f"""
    with {_host_edges_sql()},
    {_pagerank_sql()}
    select host, round(r / {_PR_SCALE}.0, 6) as pagerank from pr{_PR_ITERS}
    """,
)
def host_pagerank(spark, sf_dir):
    """PageRank over the host link graph — the classic crawl-priority
    signal (feeds the same per-host budget slot the engine's politeness
    pop consumes).  _PR_ITERS fixed power iterations, damping 0.85, with
    the rank vector held as INTEGER MILLIONTHS and every step pure
    integer floor-division — bit-identical across engines by
    construction (stronger than the 6dp-rounded-double trick, whose
    half-boundary cases ADVICE r3 flagged as engine-divergent).

    Scale shape: each iteration is one equi-join rank-flow + groupBy(v)
    sum — map-side combinable, shuffle keyed on host; the rank vector is
    |hosts| rows (tiny next to the doc corpus), so Catalyst broadcasts
    it into the edge join at any realistic host count.  Fixed iteration
    count = fixed plan depth; no driver-side convergence loop."""
    d = _t(spark, sf_dir, "documents")
    hosts = d.select(F.col("source").alias("host")).distinct()
    # targets via residue-class polynomials: (d mod 20)^k ≡ d^k (mod 20),
    # so the reduced form is overflow-safe at any doc_id magnitude while
    # quadratic/cubic residues keep the in-degree distribution skewed
    # (an affine map makes the graph regular and PageRank vacuously
    # uniform)
    m = F.col("doc_id") % 20
    tgt = lambda poly: F.concat(F.lit("src"), poly.cast("string"))  # noqa: E731
    rawe = (
        d.select(F.col("source").alias("u"), tgt((m * m + 3) % 20).alias("v"))
        .unionByName(
            d.select(F.col("source").alias("u"), tgt((m * m * m + 11) % 20).alias("v"))
        )
        .distinct()
    )
    return pagerank_integer(hosts, rawe)


def pagerank_integer(
    hosts: DataFrame, edges: DataFrame, iters: int = _PR_ITERS
) -> DataFrame:
    """Reusable integer-fixed-point PageRank core: ``hosts(host)``,
    ``edges(u, v)`` -> ``(host, pagerank)`` after ``iters`` damped power
    iterations (the :func:`host_pagerank` arithmetic, factored out so the
    ENGINE can rank the REAL link graph its crawl logged —
    ``CrawlEngine(log_links=True)`` -> :func:`frontier.host_link_graph`
    -> here -> the ``host_rank`` prioritization dimension; the oracle
    query feeds it the deterministic synthetic graph instead).

    Dangling nodes (no out-edges) simply contribute no flow — their
    damped mass leaks, deterministically, like the floor remainders; the
    teleport term keeps every host positive.  Same scale shape as the
    oracle query: per iteration one equi-join rank-flow + groupBy(v)
    sum, rank vector = |hosts| rows (broadcastable at any realistic
    host count)."""
    outd = edges.groupBy("u").agg(F.count("*").cast("long").alias("od"))
    e = edges.join(outd, "u").select("u", "v", "od")
    nn = hosts.agg(F.count("*").cast("long").alias("nn"))
    idiv = lambda a, b: F.floor(a / b).cast("long")  # noqa: E731
    base = _PR_SCALE - _PR_SCALE * _PR_D_PERMILLE // 1000
    pr = hosts.crossJoin(nn).select(
        "host", idiv(F.lit(_PR_SCALE), F.col("nn")).alias("r"), "nn"
    )
    for _ in range(iters):
        acc = (
            pr.join(e, pr.host == e.u)
            .groupBy(F.col("v").alias("host"))
            .agg(F.sum(idiv(F.col("r"), F.col("od"))).cast("long").alias("acc"))
        )
        pr = (
            hosts.crossJoin(nn)
            .join(acc, "host", "left")
            .select(
                "host",
                (
                    idiv(F.lit(base), F.col("nn"))
                    + idiv(
                        _PR_D_PERMILLE * F.coalesce(F.col("acc"), F.lit(0).cast("long")),
                        F.lit(1000),
                    )
                ).alias("r"),
                "nn",
            )
        )
    return pr.select(
        "host", F.round(F.col("r") / _PR_SCALE, 6).alias("pagerank")
    )


# ---------------------------------------------------------------------------
# deterministic stratified sampling + token sharding (data mixing)
# ---------------------------------------------------------------------------

#: per-language mixing rates (the data-mixing knob); md5-threshold
#: selection makes the sample a pure function of (salt, doc_id) — stable
#: across engines, runs, partitionings, and corpus growth (a doc's
#: keep/drop never changes when other docs are added).
_MIX_RATES = {"en": 0.5, "es": 0.25}
_MIX_DEFAULT = 0.1
_MIX_SALT = "mix1|"


def _rate_hex(rate: float) -> str:
    return f"{int(rate * 16**8):08x}"


@_q(
    "stratified_sample_hash",
    f"""
    select doc_id, lang,
           round(1.0 / (case lang
                 {' '.join(f"when '{k}' then {v}" for k, v in _MIX_RATES.items())}
                 else {_MIX_DEFAULT} end), 4) as weight
    from documents
    where substr(md5('{_MIX_SALT}' || doc_id::varchar), 1, 8)
          < (case lang
             {' '.join(f"when '{k}' then '{_rate_hex(v)}'" for k, v in _MIX_RATES.items())}
             else '{_rate_hex(_MIX_DEFAULT)}' end)
    """,
)
def stratified_sample_hash(spark, sf_dir):
    """Deterministic stratified sampling for data mixing: keep a doc iff
    the first 8 hex chars of md5(salt || doc_id) fall below the
    language's rate threshold; emit the inverse-rate importance weight.
    Unlike df.sample(), the selection is reproducible byte-for-byte
    across engines and cluster sizes, and is STABLE under corpus growth
    — the property a 100 TB pipeline needs to resample incrementally.
    Pure per-row expression: no shuffle, fully pushed into the scan
    stage."""
    d = _t(spark, sf_dir, "documents")
    hx = F.substring(
        F.md5(F.concat(F.lit(_MIX_SALT), F.col("doc_id").cast("string"))), 1, 8
    )
    thr = F.lit(_rate_hex(_MIX_DEFAULT))
    rate = F.lit(_MIX_DEFAULT)
    for k, v in _MIX_RATES.items():
        thr = F.when(F.col("lang") == k, F.lit(_rate_hex(v))).otherwise(thr)
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return (
        d.filter(hx < thr)
        .select("doc_id", "lang", F.round(1.0 / rate, 4).alias("weight"))
    )


#: token budget per training shard (tiny so sharding is exercised at
#: oracle scale; the operator is budget-agnostic)
_SHARD_TOKENS = 2000

# ---------------------------------------------------------------------------
# crawl hygiene: spider-trap host detection
# ---------------------------------------------------------------------------

#: a host is trap-suspect when its urls' average path depth (in integer
#: millionths of a segment) crosses this — deep auto-generated url
#: spaces (calendars, faceted search, session paths) run much deeper
#: than hand-authored content.  Depth is scale-INDEPENDENT (unlike raw
#: url counts), so the same threshold works at every corpus size.
_TRAP_DEPTH_MILLIONTHS = 3_000_000


@_q(
    "spider_trap_hosts",
    f"""
    with u as (
      select distinct
             'host' || (doc_id % 12)::varchar as host,
             case when doc_id % 12 < 2
                  then '/cal/' || (doc_id // 12)::varchar || '/'
                       || (doc_id // 5)::varchar || '/' || doc_id::varchar || '.html'
                  else '/p/' || (doc_id % 30)::varchar || '.html' end as path
      from documents
    ),
    d as (select host, path,
                 len(string_split(path, '/')) - 1 as depth,
                 string_split(path, '/')[2] as prefix
          from u)
    select host,
           count(*)::bigint as n_urls,
           count(distinct prefix)::bigint as n_prefixes,
           (count(*) * 1000000 // count(distinct prefix))::bigint
             as urls_per_prefix_millionths,
           (sum(depth) * 1000000 // count(*))::bigint as avg_depth_millionths,
           (case when sum(depth) * 1000000 // count(*) >= {_TRAP_DEPTH_MILLIONTHS}
             then 1 else 0 end)::bigint as trap
    from d group by host
    """,
)
def spider_trap_hosts(spark, sf_dir):
    """SPIDER-TRAP detection — the crawl-hygiene operator that keeps an
    unbounded url space (calendar pages, faceted search, session-id
    paths) from eating the frontier (Heydon & Najork, "Mercator: A
    scalable, extensible Web crawler", WWW'99 §3.3 discusses the trap
    problem; the depth/fan-out heuristic is the standard defense).  Over
    a deterministic url population synthesized from doc_id (two of
    twelve hosts get deep /cal/y/m/d paths unique per doc — the trap
    shape — the rest shallow bounded /p/N.html), compute per host: url
    count, distinct first-segment count, urls-per-prefix, and average
    path depth; flag hosts whose depth crosses the module threshold.
    Depth is the scale-independent signal (url counts grow with the
    corpus; path shapes do not), so the flag is stable across scale
    factors.  All-integer arithmetic per the fixed-point rule.

    Scale shape: one distinct + one groupBy(host) with map-side partial
    aggs — the same two-shuffle shape as any per-host rollup; at 100 TB
    the engine would feed REAL frontier urls through the identical
    second half (the synthesis CTE stands in for the frontier scan)."""
    d = _t(spark, sf_dir, "documents")
    deep = F.col("doc_id") % 12 < 2
    path = F.when(
        deep,
        F.concat(
            F.lit("/cal/"),
            (F.col("doc_id") / 12).cast("long").cast("string"),
            F.lit("/"),
            (F.col("doc_id") / 5).cast("long").cast("string"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit(".html"),
        ),
    ).otherwise(
        F.concat(F.lit("/p/"), (F.col("doc_id") % 30).cast("string"), F.lit(".html"))
    )
    u = d.select(
        F.concat(F.lit("host"), (F.col("doc_id") % 12).cast("string")).alias("host"),
        path.alias("path"),
    ).distinct()
    seg = F.split(F.col("path"), "/")
    dd = u.select(
        "host",
        (F.size(seg) - 1).alias("depth"),
        F.element_at(seg, 2).alias("prefix"),
    )
    idiv = lambda a, b: F.floor(a / b).cast("long")  # noqa: E731
    cnt = F.count("*").cast("long")
    return dd.groupBy("host").agg(
        cnt.alias("n_urls"),
        F.countDistinct("prefix").cast("long").alias("n_prefixes"),
        idiv(cnt * 1_000_000, F.countDistinct("prefix")).alias(
            "urls_per_prefix_millionths"
        ),
        idiv(F.sum("depth") * 1_000_000, cnt).alias("avg_depth_millionths"),
        (
            idiv(F.sum("depth") * 1_000_000, cnt) >= _TRAP_DEPTH_MILLIONTHS
        ).cast("long").alias("trap"),
    )


# ---------------------------------------------------------------------------
# freshness: recrawl scheduling + tiered host refresh
# ---------------------------------------------------------------------------

#: "the page changed" stand-in on the synthetic events stream: one event
#: type (~20% of observations) plays the role of a content-hash delta
#: between consecutive fetches of the same page.  The estimator below is
#: type-agnostic; production feeds it (url, fetch_ts, changed) triples
#: from the crawl log.
_CHANGE_EVENT = "purchase"

#: a page is due for refresh when estimated-change-rate x staleness-age
#: exceeds this (millionths x seconds).  Chosen near the corpus median
#: so both due and not-due rows exist at every test scale factor.
_RECRAWL_DUE = 5_000_000_000


@_q(
    "recrawl_schedule",
    f"""
    with obs as (
      select user_id as page_id,
             count(*)::bigint as n_obs,
             sum(case when event_type = '{_CHANGE_EVENT}' then 1 else 0 end)::bigint
               as n_changes,
             max(ts) as last_ts
      from events group by 1
    ),
    h as (select max(epoch_ms(ts) // 1000)::bigint as horizon from events)
    select page_id, n_obs, n_changes,
           (n_changes * 1000000 // n_obs)::bigint as change_millionths,
           ((select horizon from h) - epoch_ms(last_ts) // 1000)::bigint as age_sec,
           ((n_changes * 1000000 // n_obs)
             * ((select horizon from h) - epoch_ms(last_ts) // 1000))::bigint
             as staleness,
           (case when (n_changes * 1000000 // n_obs)
                      * ((select horizon from h) - epoch_ms(last_ts) // 1000)
                      >= {_RECRAWL_DUE} then 1 else 0 end)::bigint as due
    from obs
    """,
)
def recrawl_schedule(spark, sf_dir):
    """RECRAWL SCHEDULING — the freshness operator a crawl engine runs
    between BFS discoveries (Cho & Garcia-Molina, "Effective Page
    Refresh Policies for Web Crawlers", TODS'03, first-order form): per
    page, estimate the change rate as the fraction of past observations
    that saw a change, and prioritize by ``change_rate x age`` — the
    expected number of missed changes since the last fetch.  Pages
    whose score crosses the module threshold are ``due``; the engine's
    politeness pop consumes the score exactly like depth-priority.

    All arithmetic is INTEGER (change rate in millionths, age in whole
    epoch seconds via millisecond floor-division) — bit-identical across
    engines by construction, the :func:`host_pagerank` fixed-point rule;
    no exp()/ln() (the exact Poisson estimator's logarithm is a libm
    half-boundary hazard cross-engine, and first-order staleness ranks
    identically for the small per-fetch change probabilities a crawler
    sees).

    Scale shape: one groupBy(page) with map-side partial agg over the
    fetch log + a 1-row horizon agg joined in — no window, no global
    sort; the DUE set is a filter, and production pops top-k of it with
    the same salted per-host two-phase heap as the politeness batch
    (:func:`geocrawl_spark.politeness.pop_batch`), never a global
    row_number."""
    e = _t(spark, sf_dir, "events")
    # parquet ts is TIMESTAMP_NTZ; the session runs UTC, so the cast
    # pins the same naive-as-UTC reading DuckDB's epoch_ms uses
    sec = lambda c: F.floor(  # noqa: E731
        F.unix_millis(c.cast("timestamp")) / 1000
    ).cast("long")
    obs = e.groupBy(F.col("user_id").alias("page_id")).agg(
        F.count("*").cast("long").alias("n_obs"),
        F.sum((F.col("event_type") == _CHANGE_EVENT).cast("long"))
        .cast("long")
        .alias("n_changes"),
        F.max("ts").alias("last_ts"),
    )
    h = e.agg(F.max(sec(F.col("ts"))).alias("horizon"))
    idiv = lambda a, b: F.floor(a / b).cast("long")  # noqa: E731
    cm = idiv(F.col("n_changes") * 1_000_000, F.col("n_obs"))
    age = (F.col("horizon") - sec(F.col("last_ts"))).cast("long")
    stale = (cm * age).cast("long")
    return obs.crossJoin(h).select(
        "page_id",
        "n_obs",
        "n_changes",
        cm.alias("change_millionths"),
        age.alias("age_sec"),
        stale.alias("staleness"),
        (stale >= _RECRAWL_DUE).cast("long").alias("due"),
    )


#: tier cut points as rank fractions of the host population: tier 0 =
#: top 20% of hosts by PageRank (refetched every round), tier 1 = next
#: 30%, tier 2 = the tail.  refresh_every_rounds is the per-tier refresh
#: period the engine's round loop would consult.
_TIER_REFRESH = (1, 4, 16)


@_q(
    "crawl_tier_assign",
    f"""
    with pr as (select * from ({ORACLE_SQL["host_pagerank"]})),
    n as (select count(*)::bigint as n from pr),
    rk as (select host, pagerank,
                  row_number() over (order by pagerank desc, host) as rank
           from pr)
    select host, pagerank, rank::bigint as rank,
           (case when rank * 5 <= (select n from n) then 0
                 when rank * 2 <= (select n from n) then 1
                 else 2 end)::bigint as tier,
           (case when rank * 5 <= (select n from n) then {_TIER_REFRESH[0]}
                 when rank * 2 <= (select n from n) then {_TIER_REFRESH[1]}
                 else {_TIER_REFRESH[2]} end)::bigint as refresh_every_rounds
    from rk
    """,
)
def crawl_tier_assign(spark, sf_dir):
    """TIERED CRAWL ASSIGNMENT: rank hosts by :func:`host_pagerank` and
    cut the ranking into refresh tiers — tier 0 (top 20% of hosts)
    refetches every round, tier 1 (next 30%) every 4th, tier 2 every
    16th — the standard tiered-recrawl layout (high-value hosts fresh,
    the long tail cheap).  Complements :func:`recrawl_schedule`: tiers
    budget REFRESH CAPACITY per host class; the staleness score orders
    pages within it.

    Scale shape: the host dimension is tiny next to the page corpus (it
    broadcasts into every engine join already), so the global
    row_number over hosts is a dimension-table sort, not a corpus
    shuffle; ties break on host name and pagerank is integer-derived
    (:func:`host_pagerank`), so ranks are deterministic cross-engine."""
    pr = host_pagerank(spark, sf_dir)
    n = pr.agg(F.count("*").cast("long").alias("n"))
    w = Window.orderBy(F.desc("pagerank"), F.asc("host"))
    rk = pr.withColumn("rank", F.row_number().over(w).cast("long"))
    tier = (
        F.when(F.col("rank") * 5 <= F.col("n"), F.lit(0))
        .when(F.col("rank") * 2 <= F.col("n"), F.lit(1))
        .otherwise(F.lit(2))
    )
    refresh = (
        F.when(F.col("rank") * 5 <= F.col("n"), F.lit(_TIER_REFRESH[0]))
        .when(F.col("rank") * 2 <= F.col("n"), F.lit(_TIER_REFRESH[1]))
        .otherwise(F.lit(_TIER_REFRESH[2]))
    )
    return rk.crossJoin(n).select(
        "host",
        "pagerank",
        "rank",
        tier.cast("long").alias("tier"),
        refresh.cast("long").alias("refresh_every_rounds"),
    )


@_q(
    "token_shard_assign",
    f"""
    with t as (
      select doc_id, lang,
             len(list_filter(string_split(lower(text), ' '), w -> w != ''))::bigint
               as n_tokens
      from documents
    ),
    c as (
      select doc_id, lang, n_tokens,
             sum(n_tokens) over (partition by lang order by doc_id
                                 rows unbounded preceding) as cum
      from t
    )
    select doc_id, lang, n_tokens,
           ((cum - n_tokens) // {_SHARD_TOKENS})::bigint as shard
    from c
    """,
)
def token_shard_assign(spark, sf_dir):
    """Token-budgeted shard assignment: within each language stratum,
    docs (in doc_id order) are packed into shards of ~_SHARD_TOKENS
    tokens by running token count — the deterministic 'split the corpus
    into N-token training files' operator.  shard = floor(tokens-before
    / budget), so a shard can overflow by at most one document (the
    standard streaming-packing contract; no bin-packing shuffle).

    Scale shape: one window cumsum per stratum.  A single-stratum global
    cumsum would serialize into one task at 100 TB; the stratified form
    is the scale path (strata partition the window), matching how
    training shards are actually laid out per-language/per-source."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    n = F.size(F.filter(toks, lambda t: t != "")).cast("long")
    t = d.select("doc_id", "lang", n.alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / _SHARD_TOKENS).cast("long").alias("shard"),
    )


# ---------------------------------------------------------------------------
# exact-substring duplication profile (ExactSubstr-lite, Lee et al. 2021)
# ---------------------------------------------------------------------------

#: span width for the duplicated-substring profile.  Lee et al. dedup at
#: 50-token substrings; the synthetic docs are 20-60 words, so 10 keeps
#: every doc in scope while remaining long enough that chance collisions
#: of the 20-word vocabulary are negligible at oracle scale.
_SPAN_W = 10


@_q(
    "dup_span_stats",
    f"""
    with g as (
      select doc_id, md5(gram) as gh
      from (select doc_id, unnest({_grams_sql(_SPAN_W)}) as gram
            from documents)
    ),
    c as (
      select doc_id, count(*) over (partition by gh) as cnt
      from g
    )
    select doc_id,
           count(*)::bigint as n_spans,
           sum(case when cnt >= 2 then 1 else 0 end)::bigint as dup_spans,
           ((1000 * sum(case when cnt >= 2 then 1 else 0 end))
              // count(*))::bigint as dup_permille
    from c
    group by doc_id
    order by doc_id
    """,
)
def dup_span_stats(spark, sf_dir):
    """Per-doc duplicated-substring profile: the fraction (permille) of a
    doc's overlapping _SPAN_W-word spans that occur anywhere else in the
    corpus (including elsewhere in the same doc) — the selection metric
    of ExactSubstr dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better": any substring repeated in the corpus is a
    removal candidate).  Docs shorter than _SPAN_W words have no spans
    and emit no row (documented; explode, not explode_outer).

    Integer permille via floor division — no float ratio crosses the
    engine boundary (the PageRank-millionths rule).

    Scale shape: the span explode is ~len(doc) rows/doc; duplication is
    one count-over-window keyed by the span hash (a single shuffle whose
    groups are tiny — a span's corpus frequency), then a per-doc
    re-aggregate.  No join back to the corpus, no all-pairs anywhere;
    this is exactly the suffix-array-free approximation that survives
    10^10 docs.  Span hash is md5 for oracle portability (xxhash64 in
    production would halve the shuffle width)."""
    d = _t(spark, sf_dir, "documents")
    dw = d.select("doc_id", F.split("text", " ").alias("ws"))
    g = dw.select(
        "doc_id", F.explode(_grams_expr(F.col("ws"), _SPAN_W)).alias("gram")
    ).select("doc_id", F.md5("gram").alias("gh"))
    cnt = F.count("*").over(Window.partitionBy("gh"))
    c = g.select("doc_id", cnt.alias("cnt"))
    agg = c.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("dup_spans"),
    )
    return agg.select(
        "doc_id",
        "n_spans",
        "dup_spans",
        F.expr("(1000 * dup_spans) div n_spans").alias("dup_permille"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BM25-shaped lexical top-k retrieval (inverted-index join shape)
# ---------------------------------------------------------------------------

#: fixed query terms for the ranked-retrieval operator (drawn from the
#: synthetic vocabulary so every term has non-trivial df).
_BM25_TERMS = ("spark", "join", "window", "merge")
_BM25_K = 15


def _bm25_terms_sql() -> str:
    return ", ".join(f"'{t}'" for t in _BM25_TERMS)


@_q(
    "bm25_topk",
    f"""
    with w as (
      select doc_id,
             list_filter(string_split(text, ' '), x -> x != '') as ws
      from documents
    ),
    stats as (
      select count(*)::bigint as n_docs, sum(len(ws))::bigint as total_len
      from w
    ),
    tok as (
      select doc_id, len(ws)::bigint as dl, unnest(ws) as term from w
    ),
    tf as (
      select doc_id, dl, term, count(*)::bigint as tf
      from tok
      where term in ({_bm25_terms_sql()})
      group by doc_id, dl, term
    ),
    dft as (
      select term, count(distinct doc_id)::bigint as df_t from tf group by term
    ),
    sc as (
      select tf.doc_id,
             sum(((s.n_docs * 1000) // dft.df_t)
                 * ((44 * tf.tf * s.total_len * 1000000)
                    // (20 * tf.tf * s.total_len + 6 * s.total_len
                        + 18 * tf.dl * s.n_docs)))::bigint as score,
             count(*)::bigint as n_terms
      from tf
      join dft using (term)
      cross join stats s
      group by tf.doc_id
    )
    select row_number() over (order by score desc, doc_id)::bigint as rnk,
           doc_id, score, n_terms
    from sc
    order by score desc, doc_id
    limit {_BM25_K}
    """,
)
def bm25_topk(spark, sf_dir):
    """BM25-shaped lexical top-k retrieval over the documents table for a
    fixed term set — the keyword-search counterpart of sim_*_topk.  The
    plan is the inverted-index join shape: tokenize, KEEP ONLY query
    terms (the filter sits directly on the generated tokens, so 100 TB of
    non-matching text never reaches the shuffle), tf per (doc, term), a
    broadcast-sized df-per-term dim, corpus stats as a 1-row broadcast.

    Scoring is Robertson BM25 with k1=1.2, b=0.75 re-derived in scaled
    INTEGER floor division (k1, b as exact rationals; avgdl folded in as
    total_len/n_docs without ever materializing the ratio):

      tfc   = (44*tf*L*10^6) div (20*tf*L + 6*L + 18*dl*N)   # micro-units
      idf_m = (N*1000) div df                                # milli-units
      score = sum(idf_m * tfc)

    idf is the simplified N/df form (not the log variant) because ln()
    is libm-dependent and a 1-ulp difference between DuckDB and the JVM
    would flip a half-boundary — the same reason PageRank runs in
    integer millionths.  Ranking order for the log and linear forms
    agrees at these df ranges; documented divergence from textbook BM25.

    Top-k: global orderBy(score desc, doc_id).limit(k) — Spark plans
    TakeOrdered (per-partition heaps, no full sort); the row_number rank
    is applied AFTER the limit so its single-partition window only ever
    sees k rows."""
    d = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    toks = d.select(
        "doc_id",
        F.size(words).cast("long").alias("dl"),
        F.explode(words).alias("term"),
    )
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    stats = d.select(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(words)).cast("long").alias("total_len"),
    )
    dft = tf.groupBy("term").agg(
        F.count_distinct("doc_id").cast("long").alias("df_t")
    )
    scored = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_score",
            F.expr(
                "((n_docs * 1000) div df_t)"
                " * ((44 * tf * total_len * 1000000)"
                "    div (20 * tf * total_len + 6 * total_len"
                "         + 18 * dl * n_docs))"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("term_score").cast("long").alias("score"),
            F.count("*").cast("long").alias("n_terms"),
        )
    )
    top = scored.orderBy(F.desc("score"), "doc_id").limit(_BM25_K)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return top.select(
        F.row_number().over(w).cast("long").alias("rnk"),
        "doc_id",
        "score",
        "n_terms",
    )


# ---------------------------------------------------------------------------
# incremental dedup: new crawl batch vs the retained corpus
# ---------------------------------------------------------------------------

#: deterministic stand-in for the incoming crawl batch (in production:
#: this round's freshly fetched docs); the rest is the retained corpus.
_BATCH_MOD = 10
#: true-Jaccard admission threshold in millionths (the verify-before-
#: closure rule: LSH candidacy alone over-merges; see cluster_eval).
_INC_JACC_MIN = 500_000


def _incremental_sql() -> str:
    from .queries_ml import _N_BANDS, _SHINGLE_SQL

    mins = ", ".join(f"min(md5('{j}|' || s)) as mh_{j}" for j in range(_N_BANDS))
    bands = " union all ".join(
        f"select doc_id, {j} as band, mh_{j} as mh from sig"
        for j in range(_N_BANDS)
    )
    return f"""
    with sh0 as (
      select doc_id, unnest({_SHINGLE_SQL}) as s from documents
    ),
    sizes as (select doc_id, count(*)::bigint as n from sh0 group by doc_id),
    sig as (select doc_id, {mins} from sh0 group by doc_id),
    bands as ({bands}),
    cand as (
      select distinct b.doc_id as doc_b, c.doc_id as doc_c
      from bands b
      join bands c on b.band = c.band and b.mh = c.mh
      where b.doc_id % {_BATCH_MOD} = 0 and c.doc_id % {_BATCH_MOD} != 0
    ),
    inter as (
      select cand.doc_b, cand.doc_c, count(*)::bigint as i
      from cand
      join sh0 sb on sb.doc_id = cand.doc_b
      join sh0 sc on sc.doc_id = cand.doc_c and sc.s = sb.s
      group by 1, 2
    ),
    j as (
      select c.doc_b, c.doc_c,
             ((1000000 * coalesce(i.i, 0))
                // (nb.n + nc.n - coalesce(i.i, 0))) as jm
      from cand c
      left join inter i on i.doc_b = c.doc_b and i.doc_c = c.doc_c
      join sizes nb on nb.doc_id = c.doc_b
      join sizes nc on nc.doc_id = c.doc_c
    ),
    ranked as (
      select *, row_number() over (partition by doc_b
                                   order by jm desc, doc_c) as rn
      from j
    ),
    ncand as (select doc_b, count(*)::bigint as nc from j group by doc_b)
    select d.doc_id,
           coalesce(ncand.nc, 0)::bigint as n_candidates,
           coalesce(r.doc_c, -1)::bigint as best_match,
           coalesce(r.jm, -1)::bigint as best_jacc_millionths,
           (case when r.jm is null or r.jm < {_INC_JACC_MIN}
                 then 1 else 0 end)::bigint as keep
    from documents d
    left join ncand on ncand.doc_b = d.doc_id
    left join ranked r on r.doc_b = d.doc_id and r.rn = 1
    where d.doc_id % {_BATCH_MOD} = 0
    order by d.doc_id
    """


@_q("dedup_incremental", _incremental_sql())
def dedup_incremental(spark, sf_dir):
    """INCREMENTAL dedup — the operator a growing corpus actually runs
    every ingest round: near-dup-match only the incoming batch
    (doc_id % _BATCH_MOD == 0 as the deterministic stand-in) against the
    retained corpus, never corpus-vs-corpus.  Candidates come from the
    same MinHash band buckets as :func:`queries_ml.dedup_minhash_lsh`
    but the band join is batch x corpus only, so per-round cost scales
    with |batch|, not |corpus|; admission applies the TRUE 3-gram
    Jaccard on candidates (the verify-before-closure rule — LSH
    candidacy alone over-merges, measured in scripts/cluster_eval.py).

    Output, one row per batch doc: LSH candidate count, best corpus
    match by true Jaccard (ties to the smaller corpus doc_id; -1 when
    no candidate), the Jaccard in integer millionths (floor division,
    -1 when no candidate — no float and no NULL crosses the engine
    boundary), and the keep decision at 0.5.

    Scale shape: intersections are computed by fanning each candidate
    PAIR out over the batch doc's shingles and hash-joining against the
    corpus doc's shingles on (corpus_doc, shingle) — cost is
    |candidates| x |doc|, never a posting-list blowup on hot shingles.
    At 10^10 docs the corpus band table is the precomputed index (stored
    bucketed by (band, mh)); the batch side is tiny and broadcasts."""
    from .queries_ml import _N_BANDS, _shingles, _words

    d = _t(spark, sf_dir, "documents")
    dw = d.select("doc_id", _words(F.col("text")).alias("ws"))
    # materialization seams (the _shingle_pair_intersections rationale):
    # sh feeds sizes, the minhash signatures AND both intersection join
    # sides; sig feeds the four band projections — without the seams each
    # reference re-runs the read->tokenize->explode chain
    sh = dw.select(
        "doc_id", F.explode(_shingles(F.col("ws"))).alias("s")
    ).localCheckpoint(eager=False)
    is_batch = F.col("doc_id") % _BATCH_MOD == 0
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("s")))).alias(f"mh_{j}")
            for j in range(_N_BANDS)
        ]
    ).localCheckpoint(eager=False)
    bands = None
    for j in range(_N_BANDS):
        bj = sig.select(
            "doc_id", F.lit(j).alias("band"), F.col(f"mh_{j}").alias("mh")
        )
        bands = bj if bands is None else bands.unionByName(bj)
    cand = (
        bands.filter(is_batch)
        .select(F.col("doc_id").alias("doc_b"), "band", "mh")
        .join(
            bands.filter(~is_batch).select(
                F.col("doc_id").alias("doc_c"), "band", "mh"
            ),
            ["band", "mh"],
        )
        .select("doc_b", "doc_c")
        .distinct()
        .localCheckpoint(eager=False)  # feeds the intersection AND the join-back
    )
    sh_b = sh.filter(is_batch).withColumnsRenamed({"doc_id": "doc_b", "s": "sb"})
    sh_c = sh.filter(~is_batch).select(
        F.col("doc_id").alias("cdoc"), F.col("s").alias("sc")
    )
    inter = (
        cand.join(sh_b, "doc_b")
        .join(
            sh_c,
            (F.col("doc_c") == F.col("cdoc")) & (F.col("sb") == F.col("sc")),
        )
        .groupBy("doc_b", "doc_c")
        .agg(F.count("*").cast("long").alias("i"))
    )
    j = (
        cand.join(inter, ["doc_b", "doc_c"], "left")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "n_b"}), "doc_b")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_c", "n": "n_c"}), "doc_c")
        .select(
            "doc_b",
            "doc_c",
            F.expr(
                "(1000000 * coalesce(i, 0)) div (n_b + n_c - coalesce(i, 0))"
            ).alias("jm"),
        )
        .localCheckpoint(eager=False)  # read by both best-match and n_candidates
    )
    # per-batch-doc argmax by (jm desc, doc_c asc) as min(struct(-jm,
    # doc_c)) — the row_number()=1 window row under the same tie order,
    # as a map-side combinable aggregate (the gopher_repetition move)
    best = (
        j.groupBy("doc_b")
        .agg(
            F.min(F.struct((-F.col("jm")).alias("nj"), F.col("doc_c"))).alias("m")
        )
        .select(
            "doc_b",
            F.col("m.doc_c").alias("doc_c"),
            (-F.col("m.nj")).alias("jm"),
        )
    )
    ncand = j.groupBy("doc_b").agg(F.count("*").cast("long").alias("nc"))
    batch = d.filter(is_batch).select("doc_id")
    return (
        batch.join(ncand.withColumnRenamed("doc_b", "doc_id"), "doc_id", "left")
        .join(
            best.select(
                F.col("doc_b").alias("doc_id"),
                F.col("doc_c").alias("best_match"),
                F.col("jm").alias("best_jacc_millionths"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("nc", F.lit(0)).cast("long").alias("n_candidates"),
            # -1 sentinels instead of NULLs: a nullable BIGINT column
            # materializes as float64 in pandas (458.0 vs 458), the same
            # representational hash hazard as DuckDB's HUGEINT.
            F.coalesce("best_match", F.lit(-1)).cast("long").alias("best_match"),
            F.coalesce("best_jacc_millionths", F.lit(-1))
            .cast("long")
            .alias("best_jacc_millionths"),
            F.when(
                F.col("best_jacc_millionths").isNull()
                | (F.col("best_jacc_millionths") < _INC_JACC_MIN),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# exact stratified quantiles (corpus length profile)
# ---------------------------------------------------------------------------

@_q(
    "length_quantiles",
    """
    with t as (
      select lang, n_chars,
             row_number() over (partition by lang
                                order by n_chars, doc_id) as rn,
             count(*) over (partition by lang) as n
      from documents
    )
    select lang, max(n)::bigint as n_docs,
           max(case when rn = 1 + ((n-1)*50)//100 then n_chars end)::bigint as p50,
           max(case when rn = 1 + ((n-1)*90)//100 then n_chars end)::bigint as p90,
           max(case when rn = 1 + ((n-1)*99)//100 then n_chars end)::bigint as p99
    from t
    group by lang
    order by lang
    """,
)
def length_quantiles(spark, sf_dir):
    """Exact per-language doc-length quantiles by nearest-rank selection:
    the p-th percentile is the value at 1-indexed rank
    1 + floor((n-1)*p/100) of the stratum's sorted lengths — pure
    integer rank arithmetic, so Spark and DuckDB pick the identical
    element (approx_percentile/quantile_cont would not hash-match).

    Scale shape: one window sort PER STRATUM (lang partitions the sort —
    the same stratified-window argument as token_shard_assign; a global
    unstratified sort would serialize).  At 10^10 docs the production
    variant is approx_percentile over the same strata — this operator is
    the exact reference it is validated against."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    t = d.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    def pick(p):
        return F.max(
            F.when(
                F.col("rn") == 1 + F.expr(f"((n-1)*{p}) div 100"),
                F.col("n_chars"),
            )
        ).cast("long").alias(f"p{p}")
    return (
        t.groupBy("lang")
        .agg(F.max("n").cast("long").alias("n_docs"), pick(50), pick(90), pick(99))
        .orderBy("lang")
    )


@_q("length_quantiles_approx")  # no DuckDB twin: sketch output is
# algorithm-specific (Spark KLL-ish vs DuckDB t-digest) — the driver
# records the weaker rows-only check; the REAL gate is the parity test
# bounding it against the exact operator (tests/test_queries_pipeline.py)
def length_quantiles_approx(spark, sf_dir):
    """PRODUCTION variant of :func:`length_quantiles`: one-pass
    ``approx_percentile`` sketches per stratum instead of a per-stratum
    window sort.  At 10^10 docs this is the operator you actually run —
    a single map-side-combined aggregation (each partition builds a
    bounded sketch, merge is associative), no window, no per-stratum
    sort, shuffle = O(strata × sketch), not O(rows).

    Error contract: with accuracy a=10000 the returned value's RANK in
    the stratum is within n/a of the target (Spark's documented bound),
    PLUS one rank of definitional slack — percentile_approx targets the
    smallest value with ceil(p*n) at-or-below it, while the exact
    operator takes nearest-rank 1+floor((n-1)*p/100); the two
    conventions differ by at most one rank even at exact accuracy.  The
    parity test (tests/test_queries_pipeline.py) asserts rank error
    ≤ 1 + n/a per stratum against the exact operator, which remains the
    validation reference (its docstring)."""
    d = _t(spark, sf_dir, "documents")
    acc = 10_000
    pct = F.percentile_approx(
        "n_chars", F.array(F.lit(0.50), F.lit(0.90), F.lit(0.99)), F.lit(acc)
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            pct.alias("pcts"),
        )
        .select(
            "lang",
            "n_docs",
            F.element_at("pcts", 1).cast("long").alias("p50"),
            F.element_at("pcts", 2).cast("long").alias("p90"),
            F.element_at("pcts", 3).cast("long").alias("p99"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# ExactSubstr REMOVAL (tiled): the operator dup_span_stats only profiles
# ---------------------------------------------------------------------------

@_q(
    "dedup_spans_remove",
    f"""
    with t as (
      select doc_id, string_split(text, ' ') as ws from documents
    ),
    tiles as (
      select doc_id, g as tile_idx,
             array_to_string(ws[g*{_SPAN_W}+1 : g*{_SPAN_W}+{_SPAN_W}], ' ') as gram
      from t, unnest(range(len(ws)//{_SPAN_W})) as r(g)
    ),
    ranked as (
      select doc_id, tile_idx, gram,
             row_number() over (partition by md5(gram)
                                order by doc_id, tile_idx) as rn
      from tiles
    ),
    kept as (
      select doc_id,
             count(*) as n_tiles,
             sum(case when rn > 1 then 1 else 0 end) as removed_tiles,
             string_agg(case when rn = 1 then gram end, ' '
                        order by tile_idx) as tiles_str
      from ranked group by doc_id
    )
    select t.doc_id,
           coalesce(k.n_tiles, 0)::bigint as n_tiles,
           coalesce(k.removed_tiles, 0)::bigint as removed_tiles,
           md5(concat_ws(' ',
             nullif(coalesce(k.tiles_str, ''), ''),
             nullif(array_to_string(
               ws[(len(ws)//{_SPAN_W})*{_SPAN_W}+1 : len(ws)], ' '), '')
           )) as clean_md5
    from t left join kept k using (doc_id)
    order by t.doc_id
    """,
)
def dedup_spans_remove(spark, sf_dir):
    """ExactSubstr REMOVAL (Lee et al. 2021) — the cleaning half of the
    pair whose profiling half is :func:`dup_span_stats`: every duplicated
    _SPAN_W-word span is removed from the corpus EXCEPT its globally
    first occurrence (first = smallest (doc_id, position)), and each doc
    re-assembles from its surviving spans.  Spans here are deterministic
    non-overlapping TILES (words [g*W, g*W+W)), so removal is exact set
    subtraction and the cleaned text is reconstructable in pure column
    algebra in both engines — the suffix-array-free form of the paper's
    operator.  The sub-tile tail (< W words) is never a removal
    candidate and is always kept.

    Output: per doc, the tile counts and the md5 of the cleaned text
    (portable witness of the reconstruction; emitting the full cleaned
    text would hash the same but bloats the compare).

    Scale shape: the tiling explode is n/W rows per doc (10x fewer than
    the overlapping profile), first-occurrence election is ONE window
    shuffle keyed by span hash (group size = corpus frequency of the
    span), re-assembly is a per-doc groupBy.  No join back to the
    corpus, no all-pairs; at 10^10 docs this is the same single-shuffle
    shape that makes dup_span_stats viable, and the removal decision
    parallelizes per span hash exactly like the paper's distributed
    suffix-array buckets."""
    W = _SPAN_W
    d = _t(spark, sf_dir, "documents")
    # no persist: `t` is scanned twice (tile explode + the reassembly
    # join), but a leaked cache block per query call would accumulate
    # across the driver's 60-query sweep; one extra tokenize pass is
    # the cheaper steady-state (matches the rest of this file)
    t = d.select("doc_id", F.split("text", " ").alias("ws"))
    nt = F.expr(f"size(ws) div {W}")
    tiles = t.select(
        "doc_id",
        F.explode(
            F.when(
                nt >= 1,
                F.transform(
                    F.sequence(F.lit(0), (nt - 1).cast("int")),
                    lambda g: F.struct(
                        g.cast("long").alias("tile_idx"),
                        F.concat_ws(
                            " ", F.slice("ws", g * W + 1, W)
                        ).alias("gram"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<tile_idx:long,gram:string>>")
            )
        ).alias("tg"),
    ).select("doc_id", F.col("tg.tile_idx"), F.col("tg.gram"))
    rn = F.row_number().over(
        Window.partitionBy(F.md5("gram")).orderBy("doc_id", "tile_idx")
    )
    ranked = tiles.select("doc_id", "tile_idx", "gram", rn.alias("rn"))
    kept = ranked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tiles"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("removed_tiles"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "tile_idx",
                            F.when(F.col("rn") == 1, F.col("gram")).alias("g1"),
                        )
                    )
                ),
                lambda x: x["g1"],
            ),
            " ",  # array_join skips nulls (the removed tiles)
        ).alias("tiles_str"),
    )
    rem = F.array_join(
        F.expr(f"slice(ws, (size(ws) div {W})*{W}+1, "
               f"size(ws) - (size(ws) div {W})*{W})"),
        " ",
    )
    out = (
        t.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tiles", F.lit(0)).cast("long").alias("n_tiles"),
            F.coalesce("removed_tiles", F.lit(0))
            .cast("long")
            .alias("removed_tiles"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.nullif(F.coalesce("tiles_str", F.lit("")), F.lit("")),
                    F.nullif(rem, F.lit("")),
                )
            ).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )
    return out


# ---------------------------------------------------------------------------
# per-source quality rollup (the tier-crawl prioritization input)
# ---------------------------------------------------------------------------

@_q(
    "host_quality_rollup",
    """
    with by_lang as (
      select source, lang, count(*) as n
      from documents group by source, lang
    ),
    maj as (
      select source, lang as majority_lang, n,
             row_number() over (partition by source order by n desc, lang) as rn,
             sum(n) over (partition by source) as total
      from by_lang
    )
    select d.source,
           count(*)::bigint as n_docs,
           (sum(n_chars) // count(*))::bigint as mean_chars,
           sum(case when n_chars < 100 then 1 else 0 end)::bigint as short_docs,
           max(m.majority_lang) as majority_lang,
           max((1000 * m.n) // m.total)::bigint as majority_permille
    from documents d
    join (select * from maj where rn = 1) m using (source)
    group by d.source
    order by d.source
    """,
)
def host_quality_rollup(spark, sf_dir):
    """Per-source (host-analog) corpus quality rollup — the aggregate
    that feeds tier assignment (crawl_tier_assign) and budget allocation
    (effective_budget) in a tier crawl: document count, mean length
    (integer floor division — the cross-engine rule), short-doc count,
    and the majority language with its integer-permille share (ties
    broken lexicographically so both engines elect the same language).

    Scale shape: two groupBys on the (source[, lang]) keys — both
    map-side combined, shuffle = O(distinct sources x langs) — plus one
    per-source window over that tiny aggregate and a broadcast-size join
    back.  Nothing here scales with rows except the first partial
    aggregate."""
    d = _t(spark, sf_dir, "documents")
    by_lang = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    w_rank = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    w_tot = Window.partitionBy("source")
    maj = (
        by_lang.select(
            "source",
            F.col("lang").alias("majority_lang"),
            "n",
            F.row_number().over(w_rank).alias("rn"),
            F.sum("n").over(w_tot).alias("total"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "source",
            "majority_lang",
            F.expr("(1000 * n) div total").alias("majority_permille"),
        )
    )
    stats = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("sum(n_chars) div count(*)").cast("long").alias("mean_chars"),
        F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0))
        .cast("long")
        .alias("short_docs"),
    )
    return (
        stats.join(F.broadcast(maj), "source")
        .select(
            "source", "n_docs", "mean_chars", "short_docs",
            "majority_lang", F.col("majority_permille").cast("long"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# unigram-LM quality proxy (integer surprisal) + source vocabulary novelty
# ---------------------------------------------------------------------------

#: vocabulary cap for the surprisal model: the per-token frequency table
#: is truncated to the top-V tokens by (count desc, token) before the
#: broadcast join, and any token outside it scores as a hapax (f=1, max
#: surprisal) — the OOV rule every production unigram scorer applies.  At
#: corpus scale the FULL vocabulary (10^8+ distinct tokens on webtext) is
#: not broadcastable and the exact join would shuffle n_tokens rows on a
#: zipf-skewed key; the cap turns the whole operator into one broadcast
#: join.  Never silent: `oov_tokens` in the output counts what the cap
#: scored as OOV per doc (0 at oracle scale, where vocab << V).
_SURPRISAL_V = 65536

#: shared CTE chain for the surprisal family — ends at ``surp``, the
#: per-doc integer score table (doc_id, n_tokens,
#: mean_surprisal_millibits, max_surprisal_bits, top10_permille,
#: oov_tokens); :data:`_SURPRISAL_SQL` projects it directly and
#: :func:`perplexity_bucket_assign` ranks it into CCNet buckets.
_SURPRISAL_CTES = f"""toks as (
      select doc_id, unnest(string_split(text, ' ')) as tok from documents
    ),
    tot as (select count(*)::bigint as n from toks),
    freq as (select tok, count(*)::bigint as f from toks group by tok),
    vocab as (select tok, f from freq order by f desc, tok limit {_SURPRISAL_V}),
    top10 as (select tok from vocab order by f desc, tok limit 10),
    s as (
      select t.doc_id,
             (length(bin((select n from tot)))
              - length(bin(coalesce(v.f, 1))))::bigint as sbits,
             case when t.tok in (select tok from top10) then 1 else 0 end as is_top,
             case when v.tok is null then 1 else 0 end as is_oov
      from toks t left join vocab v using (tok)
    ),
    surp as (
      select doc_id,
             count(*)::bigint as n_tokens,
             ((1000 * sum(sbits)) // count(*))::bigint as mean_surprisal_millibits,
             max(sbits)::bigint as max_surprisal_bits,
             ((1000 * sum(is_top)) // count(*))::bigint as top10_permille,
             sum(is_oov)::bigint as oov_tokens
      from s group by doc_id
    )"""

_SURPRISAL_SQL = f"""
    with {_SURPRISAL_CTES}
    select doc_id, n_tokens, mean_surprisal_millibits, max_surprisal_bits,
           top10_permille, oov_tokens
    from surp order by doc_id
"""


@_q("unigram_surprisal", _SURPRISAL_SQL)
def unigram_surprisal(spark, sf_dir):
    """Per-document unigram-LM quality score in EXACT integer arithmetic
    — the perplexity-proxy filter of webtext pipelines (CCNet trains a
    real LM; the unigram bound is the zero-dependency version) made
    hash-portable: token surprisal is quantized to whole bits as
    ilog2(N) - ilog2(f) where ilog2(x) = length(bin(x)) - 1, and
    ``bin()`` is bit-identical in Spark and DuckDB, so no float log ever
    enters the result.  Low mean surprisal = script/boilerplate-like
    (all-stopword) text; high = gibberish/rare-token soup; both tails
    get cut in a real mixing recipe.  top10_permille is the stopword
    ratio with the corpus's OWN top-10 as the stopword list (language
    agnostic), and oov_tokens makes the _SURPRISAL_V cap observable.

    Scale shape: one explode -> map-side-combined groupBy builds the
    frequency table; TakeOrdered caps it at V (distributed top-k, no
    single-partition sort); the per-token scoring join is then a
    BROADCAST of the capped vocab against the token stream — zero
    shuffle on the zipf-skewed token key — and the per-doc rollup is one
    map-side-combined groupBy on doc_id.  Two passes over the tokens,
    both embarrassingly parallel."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("f"))
    vocab = freq.orderBy(F.desc("f"), F.asc("tok")).limit(_SURPRISAL_V)
    top10 = (
        vocab.orderBy(F.desc("f"), F.asc("tok"))
        .limit(10)
        .select("tok", F.lit(1).alias("is_top"))
    )
    total = toks.agg(F.count("*").alias("n"))
    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .join(F.broadcast(top10), "tok", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (
                F.length(F.bin(F.col("n")))
                - F.length(F.bin(F.coalesce(F.col("f"), F.lit(1))))
            )
            .cast("long")
            .alias("sbits"),
            F.coalesce("is_top", F.lit(0)).alias("is_top"),
            F.when(F.col("f").isNull(), 1).otherwise(0).alias("is_oov"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.expr("(1000 * sum(sbits)) div count(*)")
            .cast("long")
            .alias("mean_surprisal_millibits"),
            F.max("sbits").cast("long").alias("max_surprisal_bits"),
            F.expr("(1000 * sum(is_top)) div count(*)")
            .cast("long")
            .alias("top10_permille"),
            F.sum("is_oov").cast("long").alias("oov_tokens"),
        )
        .orderBy("doc_id")
    )


_NOVELTY_SQL = """
    with t0 as (
      select source, unnest(string_split(text, ' ')) as tok from documents
    ),
    st as (select distinct source, tok from t0),
    sc as (select tok, count(*)::bigint as n_src from st group by tok),
    j as (
      select st.source, case when sc.n_src = 1 then 1 else 0 end as uniq
      from st join sc using (tok)
    )
    select source,
           count(*)::bigint as n_vocab,
           sum(uniq)::bigint as n_unique,
           ((1000 * sum(uniq)) // count(*))::bigint as novelty_permille
    from j group by source order by source
"""


@_q("source_vocab_novelty", _NOVELTY_SQL)
def source_vocab_novelty(spark, sf_dir):
    """Per-source vocabulary novelty — how much of a source's vocabulary
    appears NOWHERE else in the corpus.  The data-mixing diagnostic
    behind source weighting: a mirror/aggregator site scores ~0 (its
    vocabulary is everyone else's), a niche-domain source scores high,
    and a spam source full of generated tokens scores suspiciously high
    — both tails are exactly what a curation pass inspects before
    setting mixture weights.

    Scale shape: explode -> distinct (source, tok) pairs — ONE shuffle,
    map-side pre-deduped, cardinality O(sources x per-source vocab) not
    O(tokens); the per-token source count is a groupBy on that deduped
    set (skew-free: a token's row count is bounded by n_sources, not its
    corpus frequency); the final join is back onto the same deduped
    pairs.  Nothing downstream of the first distinct scales with corpus
    token count.  All-integer output."""
    d = _t(spark, sf_dir, "documents")
    st = d.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    sc = st.groupBy("tok").agg(F.count("*").alias("n_src"))
    return (
        st.join(sc, "tok")
        .select(
            "source",
            F.when(F.col("n_src") == 1, 1).otherwise(0).alias("uniq"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_vocab"),
            F.sum("uniq").cast("long").alias("n_unique"),
            F.expr("(1000 * sum(uniq)) div count(*)")
            .cast("long")
            .alias("novelty_permille"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# CCNet-style quality buckets + PII scrub accounting
# ---------------------------------------------------------------------------

_BUCKET_SQL = f"""
    with {_SURPRISAL_CTES},
    ranked as (
      select p.doc_id, d.lang, p.mean_surprisal_millibits as score,
             row_number() over (partition by d.lang
                                order by p.mean_surprisal_millibits, p.doc_id)
               as rn,
             count(*) over (partition by d.lang) as n
      from surp p join documents d using (doc_id)
    )
    select doc_id, lang, score,
           case when rn * 3 <= n then 'head'
                when rn * 3 <= 2 * n then 'middle'
                else 'tail' end as bucket
    from ranked order by doc_id
"""


@_q("perplexity_bucket_assign", _BUCKET_SQL)
def perplexity_bucket_assign(spark, sf_dir):
    """CCNet's head/middle/tail split (Wenzek et al., LREC 2020) on the
    integer surprisal score: within each language stratum, docs are
    ranked by :func:`unigram_surprisal`'s mean_surprisal_millibits
    (ties broken by doc_id) and cut at exact integer terciles —
    ``head`` = most-fluent third (lowest surprisal), ``tail`` = the
    third a mixing recipe downsamples or drops.  Rank-based cuts, not
    value thresholds, so the split is calibration-free and stable as
    the corpus grows; all-integer, hash-portable.

    Scale shape: the surprisal pass (see :func:`unigram_surprisal`) +
    one window over (lang) — a per-stratum shuffle where the heaviest
    stratum is one language's docs, the same bounded-skew shape as
    token_shard_assign/length_quantiles.  At 100 TB the rank window
    would swap to the two-pass nearest-rank threshold computation
    (length_quantiles' production note); the rank rule itself is
    unchanged."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    surp = unigram_surprisal(spark, sf_dir).select(
        "doc_id", F.col("mean_surprisal_millibits").alias("score")
    )
    w = Window.partitionBy("lang").orderBy("score", "doc_id")
    ranked = (
        surp.join(d, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("lang")))
    )
    return ranked.select(
        "doc_id",
        "lang",
        "score",
        F.when(F.col("rn") * 3 <= F.col("n"), "head")
        .when(F.col("rn") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


#: PII patterns (email / phone-like digit run / IPv4), intersection of
#: Java-regex and RE2 syntax (no backrefs, no lookaround) so Spark and
#: DuckDB match identically.  The phone pattern requires a digit at both
#: ends with >= 6 digit/space/dash/paren chars between — loose on
#: purpose: a scrubber over-redacts rather than leaks.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
_PII_IPV4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"


@_q(
    "pii_scrub_stats",
    f"""
    with r as (
      select doc_id,
             len(regexp_extract_all(text, '{_PII_EMAIL}'))::bigint as n_emails,
             len(regexp_extract_all(text, '{_PII_IPV4}'))::bigint as n_ipv4,
             regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '', 'g'),
                            '{_PII_IPV4}', '', 'g') as t2,
             length(text)::bigint as len_text
      from documents
    )
    select doc_id, n_emails,
           len(regexp_extract_all(t2, '{_PII_PHONE}'))::bigint as n_phones,
           n_ipv4, len_text,
           length(regexp_replace(t2, '{_PII_PHONE}', '', 'g'))::bigint
             as len_redacted
    from r order by doc_id
    """,
)
def pii_scrub_stats(spark, sf_dir):
    """PII scrub accounting — the redaction pass every public-webtext
    release runs (emails, phone-like digit runs, IPv4 addresses) as a
    per-doc stats query: match counts per category plus the post-scrub
    length, so ``len_text - len_redacted`` is exactly the character
    mass a real scrub would remove.  Email and IPv4 are counted on the
    raw text; the looser phone pattern is counted AFTER those spans are
    removed so one literal never double-counts (an IP is also a
    phone-shaped digit run).  Patterns stay in the Java-regex ∩ RE2
    intersection, so both engines produce identical matches.

    Scale shape: a pure per-row projection — no shuffle, no UDF, whole
    rows never leave the JVM; at 100 TB this fuses into whatever scan
    feeds it (the same WholeStageCodegen span as the quality scores)."""
    d = _t(spark, sf_dir, "documents")
    t2 = F.regexp_replace(
        F.regexp_replace(F.col("text"), _PII_EMAIL, ""), _PII_IPV4, ""
    )
    r = d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_IPV4), F.lit(0)))
        .cast("long")
        .alias("n_ipv4"),
        t2.alias("t2"),
        F.length("text").cast("long").alias("len_text"),
    )
    return r.select(
        "doc_id",
        "n_emails",
        F.size(F.regexp_extract_all("t2", F.lit(_PII_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        "n_ipv4",
        "len_text",
        F.length(F.regexp_replace(F.col("t2"), _PII_PHONE, ""))
        .cast("long")
        .alias("len_redacted"),
    ).select(
        "doc_id", "n_emails", "n_phones", "n_ipv4", "len_text", "len_redacted"
    )


# ---------------------------------------------------------------------------
# HITS hubs/authorities + bucket-weighted mixture sampling
# ---------------------------------------------------------------------------

#: HITS power iterations; like PageRank the count is FIXED (fixed plan
#: depth, no driver-side convergence loop) and the score vectors are
#: held as integer millionths with L1 normalization by floor division —
#: bit-identical across engines, no float summation anywhere.
_HITS_ITERS = 3


def _hits_sql() -> str:
    """CTE chain h0, a1r, a1, h1r, h1, ... — the DuckDB twin of
    :func:`hits_integer` over the :func:`_host_edges_sql` graph."""
    s = _PR_SCALE
    ctes = [
        f"h0 as (select host, ({s} // (select count(*) from hosts))::bigint"
        " as h from hosts)"
    ]
    prev = "h0"
    for k in range(1, _HITS_ITERS + 1):
        ctes.append(
            f"a{k}r as (select e.v as host, sum(p.h)::bigint as x"
            f" from e join {prev} p on e.u = p.host group by 1)"
        )
        ctes.append(
            f"a{k} as (select hosts.host,"
            f" coalesce((x * {s}) // (select sum(x) from a{k}r), 0)::bigint as a"
            f" from hosts left join a{k}r using (host))"
        )
        ctes.append(
            f"h{k}r as (select e.u as host, sum(q.a)::bigint as x"
            f" from e join a{k} q on e.v = q.host group by 1)"
        )
        ctes.append(
            f"h{k} as (select hosts.host,"
            f" coalesce((x * {s}) // (select sum(x) from h{k}r), 0)::bigint as h"
            f" from hosts left join h{k}r using (host))"
        )
        prev = f"h{k}"
    return ",\n    ".join(ctes)


@_q(
    "host_hits",
    f"""
    with {_host_edges_sql().strip().rstrip()},
    {_hits_sql()}
    select hosts.host,
           round(a{_HITS_ITERS}.a / {_PR_SCALE}.0, 6) as authority,
           round(h{_HITS_ITERS}.h / {_PR_SCALE}.0, 6) as hub
    from hosts
      join a{_HITS_ITERS} using (host)
      join h{_HITS_ITERS} using (host)
    order by host
    """,
)
def host_hits(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg, JACM 1999) over the host link
    graph — the second classic graph prioritization signal next to
    :func:`host_pagerank`, and the one a crawl scheduler actually wants
    for DISCOVERY: a high-hub host (links to many good hosts) is where
    new frontier comes from, while PageRank only says who is pointed
    at.  Score vectors are integer millionths with L1 normalization by
    floor division every half-step, so both engines iterate identical
    integers (the host_pagerank portability rule; HITS' usual L2 norm
    would drag a sqrt into the fixed point).

    Scale shape: per half-iteration one equi-join flow + groupBy(host)
    sum plus a 1-row normalization agg broadcast back in — the rank
    vector is |hosts| rows, broadcastable at any realistic host count;
    fixed _HITS_ITERS keeps plan depth constant."""
    d = _t(spark, sf_dir, "documents")
    hosts = d.select(F.col("source").alias("host")).distinct()
    m = F.col("doc_id") % 20
    tgt = lambda poly: F.concat(F.lit("src"), poly.cast("string"))  # noqa: E731
    edges = (
        d.select(F.col("source").alias("u"), tgt((m * m + 3) % 20).alias("v"))
        .unionByName(
            d.select(F.col("source").alias("u"), tgt((m * m * m + 11) % 20).alias("v"))
        )
        .distinct()
    )
    return hits_integer(hosts, edges)


def hits_integer(
    hosts: DataFrame, edges: DataFrame, iters: int = _HITS_ITERS
) -> DataFrame:
    """Reusable integer HITS core: ``hosts(host)``, ``edges(u, v)`` ->
    ``(host, authority, hub)`` — usable on the engine's REAL logged link
    graph exactly like :func:`pagerank_integer`
    (``CrawlEngine(log_links=True)`` -> ``host_link_graph()`` -> here).

    ``hosts`` and ``edges`` are materialized once (lazy localCheckpoint)
    before the loop: each is referenced in every one of the 2*iters
    half-steps, and an upstream shuffle (host_hits' distinct over the
    synthetic edge union) would otherwise re-execute per reference —
    the _cc_min_label lesson."""
    hosts = hosts.localCheckpoint(eager=False)
    edges = edges.localCheckpoint(eager=False)
    s = _PR_SCALE
    nn = hosts.agg(F.count("*").cast("long").alias("nn"))
    h = hosts.crossJoin(F.broadcast(nn)).select(
        "host", F.expr(f"{s} div nn").cast("long").alias("h")
    )
    a = None
    for _ in range(iters):
        ar = (
            edges.join(h.withColumnRenamed("host", "u"), "u")
            .groupBy(F.col("v").alias("host"))
            .agg(F.sum("h").cast("long").alias("x"))
        )
        tot_a = ar.agg(F.sum("x").cast("long").alias("s"))
        a = (
            hosts.join(ar, "host", "left")
            .crossJoin(F.broadcast(tot_a))
            .select(
                "host",
                F.coalesce(F.expr(f"(x * {s}) div s"), F.lit(0))
                .cast("long")
                .alias("a"),
            )
        )
        hr = (
            edges.join(a.withColumnRenamed("host", "v"), "v")
            .groupBy(F.col("u").alias("host"))
            .agg(F.sum("a").cast("long").alias("x"))
        )
        tot_h = hr.agg(F.sum("x").cast("long").alias("s"))
        h = (
            hosts.join(hr, "host", "left")
            .crossJoin(F.broadcast(tot_h))
            .select(
                "host",
                F.coalesce(F.expr(f"(x * {s}) div s"), F.lit(0))
                .cast("long")
                .alias("h"),
            )
            # truncate lineage per iteration: the score vectors are
            # |hosts| rows, but an un-truncated 2*iters-deep join chain
            # (each level carrying two broadcast-agg crossJoins) pays
            # superlinear analysis+codegen cost by the last iteration
            .localCheckpoint(eager=False)
        )
        a = a.localCheckpoint(eager=False)
    return (
        hosts.join(a, "host")
        .join(h, "host")
        .select(
            "host",
            F.round(F.col("a") / s, 6).alias("authority"),
            F.round(F.col("h") / s, 6).alias("hub"),
        )
    )


#: per-bucket keep rates for the final mixing decision (CCNet keeps the
#: head outright, downsamples the middle, and nearly drops the tail).
_QMIX_RATES = {"head": 1.0, "middle": 0.5, "tail": 0.1}
_QMIX_SALT = "qmix1|"


@_q(
    "quality_mixture_sample",
    f"""
    with {_SURPRISAL_CTES},
    ranked as (
      select p.doc_id, d.lang, p.mean_surprisal_millibits as score,
             row_number() over (partition by d.lang
                                order by p.mean_surprisal_millibits, p.doc_id)
               as rn,
             count(*) over (partition by d.lang) as n
      from surp p join documents d using (doc_id)
    ),
    b as (
      select doc_id, lang,
             case when rn * 3 <= n then 'head'
                  when rn * 3 <= 2 * n then 'middle'
                  else 'tail' end as bucket
      from ranked
    )
    select doc_id, lang, bucket,
           (case when bucket = 'head' then 1
                 when substr(md5('{_QMIX_SALT}' || doc_id::varchar), 1, 8)
                      < (case bucket
                         when 'middle' then '{_rate_hex(_QMIX_RATES["middle"])}'
                         else '{_rate_hex(_QMIX_RATES["tail"])}' end)
                 then 1 else 0 end)::bigint as kept
    from b order by doc_id
    """,
)
def quality_mixture_sample(spark, sf_dir):
    """The final mixing decision of a CCNet-style pipeline, composed
    from the pieces above: every doc gets its
    :func:`perplexity_bucket_assign` tercile, then a deterministic
    md5-threshold draw (:func:`stratified_sample_hash`'s rule) keeps the
    head outright, half the middle, and a tenth of the tail.  ``kept``
    is emitted for EVERY doc (not filtered) so the decision itself is
    auditable — the oracle hash covers kept=0 rows too.  Stable under
    corpus growth within a bucket; bucket boundaries move only as the
    stratum's rank distribution does.

    Scale shape: the bucket pass (surprisal + one per-lang window) plus
    a pure per-row hash draw — nothing new shuffles."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    surp = unigram_surprisal(spark, sf_dir).select(
        "doc_id", F.col("mean_surprisal_millibits").alias("score")
    )
    w = Window.partitionBy("lang").orderBy("score", "doc_id")
    b = (
        surp.join(d, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("lang")))
        .select(
            "doc_id",
            "lang",
            F.when(F.col("rn") * 3 <= F.col("n"), "head")
            .when(F.col("rn") * 3 <= 2 * F.col("n"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )
    hx = F.substring(
        F.md5(F.concat(F.lit(_QMIX_SALT), F.col("doc_id").cast("string"))), 1, 8
    )
    thr = F.when(
        F.col("bucket") == "middle", F.lit(_rate_hex(_QMIX_RATES["middle"]))
    ).otherwise(F.lit(_rate_hex(_QMIX_RATES["tail"])))
    return b.select(
        "doc_id",
        "lang",
        "bucket",
        F.when(F.col("bucket") == "head", F.lit(1))
        .when(hx < thr, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("kept"),
    )


# ---------------------------------------------------------------------------
# model-based quality filtering: hashed linear classifier (fasttext shape)
# ---------------------------------------------------------------------------

#: weight-table modulus: a feature's hashed weight lands in [0, 2000]
#: integer millis, mean 1000 — the per-doc mean is centered by 1000*1000
#: after the floor division so the keep/drop threshold sits at 0 without
#: any signed division (Spark `div` truncates toward zero while negative
#: floor semantics differ across engines; everything here stays
#: non-negative until a plain subtraction).
_CLF_W_MOD = 2001
_CLF_HEX_W = (4096, 256, 16, 1)


def _hexval_sql(expr: str) -> str:
    """DuckDB hex-digit value of a single lowercase hex char via ascii()
    (portable with Spark's — no conv()/from_hex dependency)."""
    return f"(ascii({expr}) - 48 - case when ascii({expr}) >= 97 then 39 else 0 end)"


def _clf_weight_sql(m: str) -> str:
    """Integer weight from the first 4 hex chars of md5 column ``m``."""
    h = " + ".join(
        f"{_hexval_sql(f'substr({m}, {i + 1}, 1)')} * {w}" if w > 1
        else _hexval_sql(f"substr({m}, {i + 1}, 1)")
        for i, w in enumerate(_CLF_HEX_W)
    )
    return f"(({h}) % {_CLF_W_MOD})"


_CLF_SQL = f"""
    with f as (
      select doc_id,
             unnest(list_concat(string_split(text, ' '), {_grams_sql(2)})) as feat
      from documents
    ),
    w as (
      select doc_id, {_clf_weight_sql("md5(feat)")}::bigint as wgt from f
    )
    select doc_id,
           count(*)::bigint as n_feats,
           (((1000 * sum(wgt)) // count(*)) - 1000000)::bigint as score_milli,
           case when ((1000 * sum(wgt)) // count(*)) >= 1000000
                then 'keep' else 'drop' end as label
    from w group by doc_id order by doc_id
"""


def _hexval_expr(c):
    a = F.ascii(c)
    return a - 48 - F.when(a >= 97, F.lit(39)).otherwise(F.lit(0))


def _clf_weight_hex_expr(m):
    """Hashed feature weight from the PRE-COMPUTED first-4-hex-chars
    digest prefix ``m`` — pure column functions, legal inside a
    higher-order lambda, bit-identical to :func:`_clf_weight_sql`.
    Taking the prefix (not the raw feature) keeps the md5 evaluation in
    the caller's staging projection, once per feature, instead of once
    per hex digit read here."""
    h = sum(
        _hexval_expr(F.substring(m, i + 1, 1)) * w if w > 1
        else _hexval_expr(F.substring(m, i + 1, 1))
        for i, w in enumerate(_CLF_HEX_W)
    )
    return (h % _CLF_W_MOD).cast("long")


def _clf_weight_expr(x):
    """Hashed feature weight of raw feature ``x``: md5 then
    :func:`_clf_weight_hex_expr` — for single-reference call sites."""
    return _clf_weight_hex_expr(F.substring(F.md5(x), 1, 4))


@_q("quality_classifier_score", _CLF_SQL)
def quality_classifier_score(spark, sf_dir):
    """Model-based quality filtering in the fasttext shape (Joulin et
    al., "Bag of Tricks for Efficient Text Classification" — the
    architecture behind CCNet's language filter and the LLaMA-style
    wiki-reference quality classifier): features are word unigrams +
    bigrams hashed into a bounded weight table, the doc score is the
    mean feature weight, and the keep/drop gate is a fixed threshold on
    that score.  The container ships no trained model, so the weight
    table is a DETERMINISTIC STAND-IN (md5-derived — loudly labeled,
    like the fake-GDAL decode): every structural component a trained
    classifier needs — tokenize -> n-gram -> feature-hash -> weight
    lookup -> linear fold -> threshold — is real, integer-exact, and
    verified against the DuckDB twin on both keep and drop rows.
    Swapping in trained weights = replacing :func:`_clf_weight_expr`
    with a broadcast ``map(feature_bucket -> weight)`` lookup; nothing
    else changes.

    Scale shape: a pure per-row projection — tokenize once (projected
    ``ws``, the tokenize-once rule), build bigrams by slice+concat, and
    fold the hashed weights with ``F.aggregate`` INSIDE the row.  No
    explode, no shuffle, no UDF: the whole operator is one
    WholeStageCodegen span over the scan, which is what lets it run at
    100 TB as a side effect of whatever pass already reads the text
    (the oracle's unnest+groupBy states the same math relationally)."""
    d = _t(spark, sf_dir, "documents")
    dw = d.select("doc_id", F.split("text", " ").alias("ws"))
    fd = dw.select(
        "doc_id",
        F.concat(F.col("ws"), _grams_expr(F.col("ws"), 2)).alias("feats"),
    )
    # digest ONCE per feature: the weight fold reads 4 hex digits, and
    # higher-order lambdas are interpreted with no common-subexpression
    # elimination — _clf_weight_expr's md5(x) would be re-evaluated per
    # digit.  Staging the 4-char digest prefix array in its own
    # projection (CollapseProject keeps it: ``hs`` is referenced twice)
    # leaves only cheap 1-char substrings inside the fold; n_feats ==
    # size(hs) because transform preserves length.
    hd = fd.select(
        "doc_id",
        F.transform(
            "feats", lambda x: F.substring(F.md5(x), 1, 4)
        ).alias("hs"),
    )
    agg = hd.select(
        "doc_id",
        F.size("hs").cast("long").alias("n_feats"),
        F.aggregate(
            "hs",
            F.lit(0).cast("long"),
            lambda acc, m: acc + _clf_weight_hex_expr(m),
        ).alias("swgt"),
    )
    mean_milli = F.expr("(1000 * swgt) div n_feats")
    return agg.select(
        "doc_id",
        "n_feats",
        (mean_milli - 1000000).cast("long").alias("score_milli"),
        F.when(mean_milli >= 1000000, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    )


# ---------------------------------------------------------------------------
# curation reports: threshold sensitivity, cluster shape, source balance
# ---------------------------------------------------------------------------

#: Jaccard thresholds (parts per million) swept by dedup_threshold_sweep —
#: the operating points a curation run actually debates (0.5 = aggressive
#: near-dup, 0.9 = conservative almost-exact).
_SWEEP_PPM = [500_000, 600_000, 700_000, 800_000, 900_000]


@_q(
    "dedup_threshold_sweep",
    f"""
    with {_INTER_CTES},
    j as (
      select doc_a, doc_b, (1000000 * i) // (n_a + n_b - i) as jppm
      from pairs_sized
    ),
    thr as (select unnest([{", ".join(map(str, _SWEEP_PPM))}]) as thr_ppm),
    hits as (
      select thr.thr_ppm, j.doc_a, j.doc_b from thr join j on j.jppm >= thr.thr_ppm
    ),
    per_pair as (
      select thr_ppm, count(*)::bigint as n_pairs from hits group by 1
    ),
    per_doc as (
      select thr_ppm, count(distinct d)::bigint as n_docs
      from (select thr_ppm, unnest([doc_a, doc_b]) as d from hits)
      group by 1
    )
    select thr.thr_ppm::bigint as thr_ppm,
           coalesce(per_pair.n_pairs, 0)::bigint as n_pairs,
           coalesce(per_doc.n_docs, 0)::bigint as n_docs
    from thr
      left join per_pair using (thr_ppm)
      left join per_doc using (thr_ppm)
    order by thr_ppm
    """,
)
def dedup_threshold_sweep(spark, sf_dir):
    """Dedup threshold SENSITIVITY report: for each candidate Jaccard
    operating point (0.5..0.9 in millionths), how many verified pairs and
    how many distinct affected docs the corpus would yield.  This is the
    table a curation run reads before committing to a threshold — the
    knee of n_docs(threshold) is where near-dup mass lives; picking 0.5
    vs 0.8 blind is the difference between dropping boilerplate families
    and dropping legitimate syndicated variants.

    Scale shape: the expensive part — df-capped candidate pairs with
    TRUE intersections (:func:`queries_ml._shingle_pair_intersections`)
    — is computed ONCE and is the same plan dedup_ngram_jaccard already
    runs; the sweep itself is a broadcast theta-join of those pairs
    against a 5-row threshold dimension plus two tiny aggregates.
    Integer millionths with floor division, bit-equal across engines."""
    from .queries_ml import _shingle_pair_intersections

    p = _shingle_pair_intersections(spark, sf_dir)
    thr = spark.createDataFrame(
        [(t,) for t in _SWEEP_PPM], "thr_ppm long"
    )
    j = p.select(
        "doc_a",
        "doc_b",
        F.expr("(1000000 * i) div (n_a + n_b - i)").alias("jppm"),
    )
    hits = j.join(F.broadcast(thr), F.col("jppm") >= F.col("thr_ppm"))
    per_pair = hits.groupBy("thr_ppm").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    per_doc = (
        hits.select(
            "thr_ppm", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("thr_ppm")
        .agg(F.countDistinct("d").cast("long").alias("n_docs"))
    )
    return (
        thr.join(per_pair, "thr_ppm", "left")
        .join(per_doc, "thr_ppm", "left")
        .select(
            "thr_ppm",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )


@_q(
    "cluster_size_histogram",
    f"""
    with recursive {_cc_sql()}
    select cluster_size,
           count(*)::bigint as n_clusters,
           (cluster_size * count(*))::bigint as n_docs,
           ((cluster_size - 1) * count(*))::bigint as n_docs_removed
    from sz group by 1 order by 1
    """,
)
def cluster_size_histogram(spark, sf_dir):
    """Frequency-of-frequencies over the near-dup components: how many
    clusters exist at each size, and how many docs they hold.  The
    histogram is the one-page answer to "what does dedup actually delete
    here" — a heavy tail of giant clusters means template/boilerplate
    families (and is the first symptom when closure runs over unverified
    pairs; see dedup_clusters' VERIFY-BEFORE-CLOSURE note), while an
    all-size-2 histogram means simple mirrors.  n_docs_removed =
    (size-1) per cluster, the exact row count a keeper-dedup drops.

    Scale shape: reuses :func:`_cc_min_label` over the verified pairs
    (the dedup_clusters plan) plus two tiny aggregates — the histogram
    dimension is at most the largest cluster size."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = _cc_min_label(edges)
    sz = labels.groupBy("lab").agg(F.count("*").cast("long").alias("cluster_size"))
    return (
        sz.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs_removed"),
        )
    )


@_q(
    "source_gini",
    """
    with c as (
      select source, count(*)::bigint as cnt from documents group by 1
    ),
    r as (
      select cnt, row_number() over (order by cnt, source) as rk from c
    )
    select ((1000 * (2 * sum(rk * cnt) - (count(*) + 1) * sum(cnt)))
            // (count(*) * sum(cnt)))::bigint as gini_permille,
           count(*)::bigint as n_sources,
           sum(cnt)::bigint as n_docs
    from r
    """,
)
def source_gini(spark, sf_dir):
    """Source-concentration report: the Gini coefficient (per-mille,
    floor) of the per-source document counts — 0 = perfectly balanced
    mixture, ->1000 = one source dominates.  Data-mixing recipes watch
    exactly this number when a crawl's host-budget or quality gates
    skew the corpus toward a handful of megasites; it is the scalar
    alarm that precedes re-weighting (quality_mixture_sample's rates).

    Gini over sorted counts c_1<=...<=c_n:
      G = (2*sum(i*c_i) - (n+1)*sum(c)) / (n*sum(c))
    computed entirely in integer arithmetic (per-mille, floor division)
    so both engines agree bit-for-bit; ties in cnt are ordered by source
    for a fully deterministic ranking (equal counts contribute the same
    sum under any permutation, but the determinism rule stands).

    Scale shape: one groupBy(source) shuffle reduces the corpus to a
    per-source count dimension (sources << docs by construction); the
    rank window runs over THAT tiny dimension, never over rows — the
    same agg-first-window-later shape as length_quantiles."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count("*").cast("long").alias("cnt"))
    w = Window.orderBy("cnt", "source")
    r = c.select("cnt", F.row_number().over(w).alias("rk"))
    return r.agg(
        F.expr(
            "(1000 * (2 * sum(rk * cnt) - (count(*) + 1) * sum(cnt)))"
            " div (count(*) * sum(cnt))"
        )
        .cast("long")
        .alias("gini_permille"),
        F.count("*").cast("long").alias("n_sources"),
        F.sum("cnt").cast("long").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Gopher rule gate + topic-balance report
# ---------------------------------------------------------------------------

#: Gopher's stopword gate set (Rae et al., Gopher, Table A1: a document
#: must contain at least 2 of these words to survive the rule battery).
_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


@_q(
    "gopher_quality_flags",
    f"""
    select doc_id,
           (case when nw between 50 and 100000 then 1 else 0 end)::bigint
             as flag_word_count,
           (case when mwl_milli between 3000 and 10000 then 1 else 0 end)::bigint
             as flag_word_len,
           (case when stop_hits >= 2 then 1 else 0 end)::bigint
             as flag_stopwords,
           (case when (1000 * n_uniq) // nw >= 300 then 1 else 0 end)::bigint
             as flag_distinct,
           (case when (1000 * n_short) // nw <= 500 then 1 else 0 end)::bigint
             as flag_short_tokens,
           (case when nw between 50 and 100000
                  and mwl_milli between 3000 and 10000
                  and stop_hits >= 2
                  and (1000 * n_uniq) // nw >= 300
                  and (1000 * n_short) // nw <= 500
             then 1 else 0 end)::bigint as keep
    from (
      select doc_id,
             len(ws) as nw,
             (1000 * length(replace(text, ' ', ''))) // len(ws) as mwl_milli,
             len(list_filter(ws, w -> w in
                 ({", ".join(f"'{s}'" for s in _GOPHER_STOPS)}))) as stop_hits,
             len(list_distinct(ws)) as n_uniq,
             len(list_filter(ws, w -> length(w) <= 2)) as n_short
      from (select doc_id, text, string_split(text, ' ') as ws from documents)
    )
    """,
)
def gopher_quality_flags(spark, sf_dir):
    """The Gopher rule battery (Rae et al., Table A1) as a per-document
    FLAG table — the published web-text keep/drop gate, adapted to this
    corpus's whitespace tokens: word count in [50, 100k], mean word
    length in [3, 10], >= 2 stopword tokens from Gopher's 8-word set,
    distinct-word ratio >= 0.3 (the repetition guard
    :func:`gopher_repetition` measures in gram space), and <= 50%
    1-2-char tokens (the symbol-ratio proxy).  Per-rule flags stay
    visible — a curation run reads WHICH rule kills a document (the
    rule-attribution table every filtering paper reports), not just the
    final ``keep``.

    All thresholds are evaluated in integer milli-units with floor
    division, so Spark and DuckDB agree bit-for-bit.  Scale shape: one
    WholeStageCodegen projection over the corpus — tokenized ONCE into
    ``ws`` (the tokenize-once rule), zero shuffles, zero UDFs."""
    d = _t(spark, sf_dir, "documents")
    dw = d.select(
        "doc_id",
        _words(F.col("text")).alias("ws"),
        (F.lit(1000) * F.length(F.regexp_replace("text", " ", ""))).alias(
            "chars_k"
        ),
    )
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    base = dw.select(
        "doc_id",
        F.size("ws").alias("nw"),
        F.expr("chars_k div size(ws)").alias("mwl_milli"),
        F.size(
            F.filter("ws", lambda w: F.array_contains(stops, w))
        ).alias("stop_hits"),
        F.size(F.array_distinct("ws")).alias("n_uniq"),
        F.size(F.filter("ws", lambda w: F.length(w) <= 2)).alias("n_short"),
    )
    f_wc = F.col("nw").between(50, 100000)
    f_wl = F.col("mwl_milli").between(3000, 10000)
    f_st = F.col("stop_hits") >= 2
    f_di = F.expr("(1000 * n_uniq) div nw") >= 300
    f_sh = F.expr("(1000 * n_short) div nw") <= 500
    as_long = lambda c, nm: F.when(c, 1).otherwise(0).cast("long").alias(nm)
    return base.select(
        "doc_id",
        as_long(f_wc, "flag_word_count"),
        as_long(f_wl, "flag_word_len"),
        as_long(f_st, "flag_stopwords"),
        as_long(f_di, "flag_distinct"),
        as_long(f_sh, "flag_short_tokens"),
        as_long(f_wc & f_wl & f_st & f_di & f_sh, "keep"),
    )


def _topic_mix_sql() -> str:
    from .queries_ml import _ivf_sql_ctes

    return f"""
    with {_ivf_sql_ctes()},
    m as (select vec_id, cid from assign where rk = 1),
    j as (select m.cid, d.source from m join documents d on d.doc_id = m.vec_id),
    c as (select cid, source, count(*)::bigint as n_docs from j group by 1, 2),
    t as (select cid, sum(n_docs)::bigint as cluster_docs from c group by 1)
    select c.cid::bigint as cid, c.source, c.n_docs,
           t.cluster_docs,
           ((1000 * c.n_docs) // t.cluster_docs)::bigint as share_permille
    from c join t using (cid)
    """


@_q("topic_source_mix", _topic_mix_sql())
def topic_source_mix(spark, sf_dir):
    """Topic-balance report: the (IVF cluster x source) contingency table
    over the embedding corpus — for each trained-IVF cluster (the cheap
    unsupervised 'topic' a 100 TB pipeline already has, because dedup
    trained the same centroids), how many docs each source contributes
    and its per-mille share of the cluster.  This is the other axis of
    the mixing report: :func:`source_gini` says whether sources are
    balanced GLOBALLY; this says whether a topic is single-sourced —
    the signal that a domain (code, news, forums) is about to be
    memorized from one site's phrasing.

    Reuses the exact trained-centroid assignment
    (:func:`queries_ml._ivf_assign_ranked`, rk=1 membership) that
    sim_ivf_topk / dedup_embedding_bucketed index with — one training
    pass serves search, dedup, AND reporting.  Scale shape: the
    centroid broadcast scan plus two tiny aggregates over (cid, source);
    share math is integer per-mille floor division."""
    from .queries_ml import (
        _dvec,
        _dot,
        _ivf_assign_ranked,
        _ivf_k_of,
        _vec_count,
    )

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    n = e.withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e"))))
    k = _ivf_k_of(_vec_count(sf_dir, "embeddings", n))
    m = _ivf_assign_ranked(n, k).filter(F.col("rk") == 1).select("vec_id", "cid")
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    c = (
        m.join(d, m.vec_id == d.doc_id)
        .groupBy("cid", "source")
        .agg(F.count("*").cast("long").alias("n_docs"))
        # tiny (cid x source cells), but upstream is the IVF scoring
        # pass — materialize so the totals branch does not re-run it
        .localCheckpoint(eager=False)
    )
    t = c.groupBy("cid").agg(F.sum("n_docs").cast("long").alias("cluster_docs"))
    return c.join(t, "cid").select(
        F.col("cid").cast("long").alias("cid"),
        "source",
        "n_docs",
        "cluster_docs",
        F.expr("(1000 * n_docs) div cluster_docs").cast("long").alias(
            "share_permille"
        ),
    )


# ---------------------------------------------------------------------------
# tokenizer-training prep (BPE merge statistics) + mirror detection
# ---------------------------------------------------------------------------

#: end-of-word marker appended before pair extraction, so the last
#: character forms a (char, marker) pair and merges can never cross a
#: word boundary — the single-char stand-in for Sennrich's '</w>'.
#: The synthetic corpus alphabet is [a-z0-9 ], so '_' cannot collide.
_BPE_EOW = "_"

_BPE_SQL = f"""
    with wf as (
      select tok as w, count(*)::bigint as f
      from (select unnest(string_split(text, ' ')) as tok from documents)
      group by 1
    ),
    pi as (
      select w, f, unnest(generate_series(1, length(w))) as i from wf
    ),
    p as (
      select w, f, substring(w || '{_BPE_EOW}', i, 2) as pair from pi
    )
    select pair, sum(f)::bigint as pair_count,
           count(distinct w)::bigint as n_words
    from p group by pair
    order by pair_count desc, pair
"""


@_q("bpe_pair_counts", _BPE_SQL)
def bpe_pair_counts(spark, sf_dir):
    """First iteration of BPE tokenizer training (Sennrich et al., ACL
    2016) as a corpus statistic: the frequency of every adjacent symbol
    pair, weighted by word occurrence count, with an end-of-word marker
    so merges cannot cross word boundaries.  The argmax row IS the
    first merge a real trainer would perform; re-running after applying
    a merge is the training loop, and every iteration has exactly this
    plan shape.  ``n_words`` (distinct vocabulary entries containing
    the pair) makes the merge's vocabulary blast radius observable.

    Scale shape — the reason BPE training is feasible at 100 TB: one
    map-side-combined groupBy collapses the token stream into the
    DISTINCT-word frequency table (Zipf: vocabulary grows ~log of
    corpus size, so this is the only pass that touches every byte);
    pair explosion and the weighted rollup then run over the tiny
    vocab table only.  All counts are exact integers — hash-portable
    by construction."""
    d = _t(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("f"))
    )
    pairs = wf.select(
        "w",
        "f",
        F.expr(
            f"transform(sequence(1, length(w)), "
            f"i -> substring(concat(w, '{_BPE_EOW}'), i, 2))"
        ).alias("ps"),
    ).select("w", "f", F.explode("ps").alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("f").cast("long").alias("pair_count"),
            F.countDistinct("w").cast("long").alias("n_words"),
        )
        .orderBy(F.desc("pair_count"), F.asc("pair"))
    )


_OVERLAP_SQL = f"""
    with {_INTER_CTES},
    jp as (
      select doc_a, doc_b from pairs_sized
      where i / (n_a + n_b - i) >= 0.5
    ),
    lab as (
      select least(da.source, db.source) as src_a,
             greatest(da.source, db.source) as src_b,
             jp.doc_a, jp.doc_b
      from jp
        join documents da on jp.doc_a = da.doc_id
        join documents db on jp.doc_b = db.doc_id
    ),
    np as (
      select src_a, src_b, count(*)::bigint as n_pairs
      from lab group by 1, 2
    ),
    dd as (
      select src_a, src_b, count(distinct doc)::bigint as n_docs
      from (select src_a, src_b, unnest([doc_a, doc_b]) as doc from lab)
      group by 1, 2
    )
    select src_a, src_b, n_pairs, dd.n_docs
    from np join dd using (src_a, src_b)
    order by n_pairs desc, src_a, src_b
"""


@_q("source_overlap_matrix", _OVERLAP_SQL)
def source_overlap_matrix(spark, sf_dir):
    """Mirror detection: the (source x source) matrix of VERIFIED
    near-duplicate pairs (true n-gram Jaccard >= 0.5, the
    :func:`queries_ml.dedup_ngram_jaccard` contract).  A heavy
    off-diagonal cell means two hosts serve near-identical content —
    the classic mirror/syndication pattern a crawler should collapse
    (fetch one, downweight the other's budget, exactly the lever
    :class:`frontier.CrawlEngine`'s per-host budgets and trap_guard
    already expose); a heavy diagonal cell is an intra-host template
    farm.  ``n_docs`` counts the distinct documents involved so a
    single hub page duplicated everywhere reads differently from two
    genuinely mirrored corpora.

    Scale shape: pair generation is the shared df-capped posting-list
    plan (never quadratic in corpus size); the source labeling is two
    joins against the (doc_id, source) projection keyed on doc id, and
    the matrix rollup is a map-side-combined groupBy over at most
    |sources|^2 cells."""
    from .queries_ml import _shingle_pair_intersections

    p = _shingle_pair_intersections(spark, sf_dir)
    jac = F.col("i") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    jp = p.filter(jac >= 0.5).select("doc_a", "doc_b")
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    lab = (
        jp.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            "doc_a",
            "doc_b",
        )
    )
    np_ = lab.groupBy("src_a", "src_b").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    dd = (
        lab.select(
            "src_a", "src_b", F.explode(F.array("doc_a", "doc_b")).alias("doc")
        )
        .groupBy("src_a", "src_b")
        .agg(F.countDistinct("doc").cast("long").alias("n_docs"))
    )
    return (
        np_.join(dd, ["src_a", "src_b"])
        .select("src_a", "src_b", "n_pairs", "n_docs")
        .orderBy(F.desc("n_pairs"), "src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# collocation extraction: integer-PMI bigram association
# ---------------------------------------------------------------------------

#: minimum bigram occurrence for a PMI row — Church & Hanks' guard
#: against the low-count PMI explosion (a hapax pair maxes the score).
_PMI_MIN_C = 5

_PMI_SQL = f"""
    with toks as (
      select unnest(string_split(text, ' ')) as tok from documents
    ),
    uni as (select tok, count(*)::bigint as c from toks group by 1),
    nn as (select count(*)::bigint as n from toks),
    dw as (
      select doc_id, string_split(text, ' ') as ws from documents
      where len(string_split(text, ' ')) >= 2
    ),
    bi as (
      select ws[i] as w1, ws[i + 1] as w2
      from (
        select ws, unnest(generate_series(1, len(ws) - 1)) as i from dw
      )
    ),
    bc as (select w1, w2, count(*)::bigint as c_ab from bi group by 1, 2),
    nb as (select sum(c_ab)::bigint as nb from bc),
    f as (select * from bc where c_ab >= {_PMI_MIN_C})
    select f.w1, f.w2, f.c_ab,
           ((length(bin(f.c_ab)) - 1) + 2 * (length(bin(nn.n)) - 1)
            - (length(bin(nb.nb)) - 1) - (length(bin(a.c)) - 1)
            - (length(bin(b.c)) - 1))::bigint as pmi_bits
    from f
      join uni a on f.w1 = a.tok
      join uni b on f.w2 = b.tok
      cross join nn cross join nb
    order by pmi_bits desc, c_ab desc, w1, w2
"""


@_q("bigram_pmi_top", _PMI_SQL)
def bigram_pmi_top(spark, sf_dir):
    """Collocation extraction (Church & Hanks, 1990): pointwise mutual
    information of adjacent word pairs, quantized to whole bits with
    the same ilog2(x) = length(bin(x)) - 1 identity as
    :func:`unigram_surprisal`, so no float log ever enters the result —
    pmi_bits = ilog2(c_ab) + 2*ilog2(N) - ilog2(N_b) - ilog2(c_a) -
    ilog2(c_b), each term exact and bit-identical across engines
    (summing quantized terms bounds the error at a few bits, which is
    what a phrase-mining cut cares about).  Pairs below
    ``_PMI_MIN_C`` occurrences are dropped first — the standard guard
    against hapax pairs saturating the score.  The survivors are the
    multi-word expressions a tokenizer or phrase index should treat as
    units.

    Scale shape: two map-side-combined groupBys (unigrams off the
    exploded token stream, bigrams off per-doc adjacent pairs built
    from ONE projected split — no shuffle wider than the Zipf-bounded
    vocab/bigram tables), then the count-filtered bigram table (small
    by construction) joins the unigram counts; at corpus scale that
    join broadcasts the filtered bigram side.  1-word docs are guarded
    out (Spark's sequence(1, 0) DESCENDS — never generate it)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    # materialized once: referenced by N (sum of counts — no second token
    # scan), and both sides of the bigram join
    uni = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    n_tot = uni.agg(F.sum("c").cast("long").alias("n"))
    dw = d.select(_words(F.col("text")).alias("ws")).filter(F.size("ws") >= 2)
    bi = dw.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("ws"), i).alias("w1"),
                    F.element_at(F.col("ws"), i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    # materialized once: nb (the pre-filter total) and the filtered table
    # both read it — without this the corpus-wide bigram shuffle re-runs
    bc = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_ab"))
        .localCheckpoint(eager=False)
    )
    nb = bc.agg(F.sum("c_ab").cast("long").alias("nb"))
    f = bc.filter(F.col("c_ab") >= _PMI_MIN_C)
    ilog2 = lambda c: F.length(F.bin(c)) - 1  # noqa: E731
    ua = uni.select(F.col("tok").alias("w1"), F.col("c").alias("ca"))
    ub = uni.select(F.col("tok").alias("w2"), F.col("c").alias("cb"))
    return (
        f.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            "c_ab",
            (
                ilog2(F.col("c_ab"))
                + 2 * ilog2(F.col("n"))
                - ilog2(F.col("nb"))
                - ilog2(F.col("ca"))
                - ilog2(F.col("cb"))
            )
            .cast("long")
            .alias("pmi_bits"),
        )
        .orderBy(F.desc("pmi_bits"), F.desc("c_ab"), "w1", "w2")
    )


_HOSTDUP_SQL = """
    with h as (
      select doc_id, source, md5(text) as ch from documents
    ),
    r as (
      select doc_id, source,
             row_number() over (partition by ch order by doc_id) as rn
      from h
    )
    select source,
           count(*)::bigint as n_docs,
           sum(case when rn > 1 then 1 else 0 end)::bigint as n_dup,
           ((1000 * sum(case when rn > 1 then 1 else 0 end)) // count(*))
             ::bigint as dup_permille,
           case when count(*) >= 4
                 and 2 * sum(case when rn > 1 then 1 else 0 end) >= count(*)
                then 1 else 0 end::bigint as quarantined
    from r group by source order by source
"""


@_q("host_dup_stats", _HOSTDUP_SQL)
def host_dup_stats(spark, sf_dir):
    """The corpus-level oracle twin of the engine's mirror quarantine
    (:class:`frontier.CrawlEngine` ``mirror_guard``): per source, how
    many documents are exact-content duplicates of an EARLIER document
    anywhere in the corpus (first occurrence wins, ordered by doc_id —
    the batch analog of the crawl's fetch_seq order), and whether the
    cumulative ratio trips the same integer quarantine rule
    (n_docs >= 4, 2*n_dup >= n_docs).  Lets a curation report and the
    live crawl scheduler agree on which hosts are mirrors.

    Scale shape: one window rank over the content-hash key (the
    standard first-occurrence dedup shuffle, same key distribution as
    dedup_exact) followed by a map-side-combined per-source rollup;
    md5 keeps the hash portable across engines, the engine itself uses
    xxhash64."""
    d = _t(spark, sf_dir, "documents")
    h = d.select("doc_id", "source", F.md5("text").alias("ch"))
    r = h.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("ch").orderBy("doc_id")),
    )
    dup = (F.col("rn") > 1).cast("long")
    return (
        r.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(dup).cast("long").alias("n_dup"),
            F.expr(
                "(1000 * sum(case when rn > 1 then 1 else 0 end))"
                " div count(*)"
            )
            .cast("long")
            .alias("dup_permille"),
            F.when(
                (F.count("*") >= 4) & (2 * F.sum(dup) >= F.count("*")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("quarantined"),
        )
        .orderBy("source")
    )


_LANG_CONF_SQL = """
    with g as (
      select lang,
        case
          when len(list_filter(string_split(text, ' '),
                   w -> w in ('the', 'a', 'and', 'of'))) >= 2 then 'en'
          when len(list_filter(string_split(text, ' '),
                   w -> w in ('el', 'la', 'de', 'y'))) >= 2 then 'es'
          else 'unknown' end as guess
      from documents
    ),
    per as (select lang, guess, count(*)::bigint as n from g group by 1, 2),
    tot as (select lang, sum(n)::bigint as lang_docs from per group by 1)
    select per.lang, per.guess, per.n, tot.lang_docs,
           ((1000 * per.n) // tot.lang_docs)::bigint as permille
    from per join tot using (lang)
    order by lang, guess
"""


@_q("langid_confusion", _LANG_CONF_SQL)
def langid_confusion(spark, sf_dir):
    """Label-noise audit: the confusion matrix between the corpus's
    DECLARED ``lang`` column (crawl-time metadata — often wrong in real
    webtext) and the stopword-heuristic prediction
    (:func:`queries_ml.langid_heuristic`'s rule).  An off-diagonal cell
    with high per-mille is either a systematically mislabeled source or
    a language the heuristic can't see — both are things a mixing
    recipe must know before trusting per-language quotas
    (perplexity_bucket_assign, quality_mixture_sample, and
    token_shard_assign all stratify on ``lang``).

    Scale shape: one per-row projection (the stopword filters fuse into
    the scan's codegen span) and two tiny aggregates over at most
    |langs| x |guesses| cells."""
    d = _t(spark, sf_dir, "documents")
    # tokenize once: the en and es stopword probes each inlined the
    # split otherwise (two evaluations per row)
    dw = d.select("lang", _words(F.col("text")).alias("ws"))
    en = F.size(F.filter("ws", lambda w: w.isin("the", "a", "and", "of")))
    es = F.size(F.filter("ws", lambda w: w.isin("el", "la", "de", "y")))
    guess = (
        F.when(en >= 2, F.lit("en"))
        .when(es >= 2, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )
    per = (
        dw.select("lang", guess.alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count("*").cast("long").alias("n"))
    )
    # lang_docs as a window over the ALREADY-AGGREGATED cells (at most
    # |langs| x |guesses| rows): one corpus scan total — a groupBy+join
    # re-derivation would scan and re-project the corpus twice
    return (
        per.withColumn(
            "lang_docs",
            F.sum("n").over(Window.partitionBy("lang")).cast("long"),
        )
        .select(
            "lang",
            "guess",
            "n",
            "lang_docs",
            F.expr("(1000 * n) div lang_docs").cast("long").alias("permille"),
        )
        .orderBy("lang", "guess")
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (robust local document fingerprinting)
# ---------------------------------------------------------------------------

#: winnowing parameters (Schleimer, Wilkerson, Aiken, "Winnowing: Local
#: Algorithms for Document Fingerprinting", SIGMOD'03): word K-grams
#: hashed, then one fingerprint selected per sliding window of W
#: consecutive gram hashes (the window MINIMUM).  The guarantee: any
#: shared run of at least K + W - 1 tokens between two documents shares
#: at least one selected fingerprint, at an expected density of
#: 2/(W+1) fingerprints per gram — position-robust local dedup evidence
#: that a single global hash (doc_fingerprints) cannot give.
_WINNOW_K = 4
_WINNOW_W = 5

_WINNOW_SQL = f"""
    with g0 as (
      select doc_id, unnest({_grams_sql(_WINNOW_K)}) as gram,
             generate_subscripts({_grams_sql(_WINNOW_K)}, 1) as pos
      from documents
    ),
    g as (select doc_id, pos, md5(gram) as gh from g0),
    w as (
      select doc_id, pos,
             min(gh) over (partition by doc_id order by pos
                           rows between current row and {_WINNOW_W - 1} following) as fp,
             count(*) over (partition by doc_id) as ngrams
      from g
    ),
    sel as (select doc_id, ngrams, fp from w where pos <= ngrams - {_WINNOW_W - 1}),
    per as (
      select doc_id, max(ngrams)::bigint as n_grams, count(*)::bigint as n_windows,
             count(distinct fp)::bigint as n_fingerprints
      from sel group by doc_id
    ),
    docfp as (select distinct doc_id, fp from sel),
    share as (select fp, count(*)::bigint as dcnt from docfp group by fp),
    sh as (
      select doc_id, count(*)::bigint as shared_fp
      from docfp join share using (fp) where dcnt >= 2 group by doc_id
    )
    select p.doc_id, n_grams, n_windows, n_fingerprints,
           ((1000 * n_fingerprints) // n_windows)::bigint as density_permille,
           coalesce(shared_fp, 0)::bigint as shared_fp
    from per p left join sh using (doc_id) order by doc_id
"""


@_q("winnow_fingerprints", _WINNOW_SQL)
def winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprint selection (Schleimer et al., SIGMOD'03) —
    the position-robust local fingerprinting used by MOSS-style overlap
    detection, complementing :func:`doc_fingerprints` (one global hash)
    and dup_span_stats (fixed-stride spans): selecting the MINIMUM gram
    hash per sliding window guarantees any K+W-1-token shared run yields
    a shared fingerprint while keeping density ~2/(W+1), independent of
    where the shared run sits in either document.  md5 hex strings ARE
    the hash values (string min is bit-identical across engines — no
    integer conversion needed), so the whole operator is hash-portable
    by construction.  ``shared_fp`` counts each doc's fingerprints seen
    in at least one OTHER document — the winnowing dedup signal.

    Scale shape: one corpus scan tokenizes once and emits gram hashes
    (array transform, JVM-side); the window min runs per-doc (partition
    = doc_id, frame = W rows — no corpus-wide sort); the per-doc rollup
    is map-side combined; the only corpus-wide shuffle is the
    fingerprint-sharing groupBy, whose input is already per-doc DISTINCT
    fingerprints (~2/(W+1) x grams, i.e. ~1/3 of token volume) — the
    same posting-list shape as dedup_ngram_jaccard, with the df skew cap
    unnecessary because window-min selection already thins hot grams."""
    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    g = (
        t.select(
            "doc_id",
            F.posexplode(_grams_expr(F.col("toks"), _WINNOW_K)).alias(
                "pos0", "gram"
            ),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.md5("gram").alias("gh"),
        )
    )
    wmin = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WINNOW_W - 1)
    )
    wdoc = Window.partitionBy("doc_id")
    # seams: sel feeds the per-doc rollup AND the sharing side; docfp
    # feeds the df count AND the join back (the tokenize-once rationale)
    sel = (
        g.withColumn("fp", F.min("gh").over(wmin))
        .withColumn("ngrams", F.count("*").over(wdoc))
        .filter(F.col("pos") <= F.col("ngrams") - (_WINNOW_W - 1))
        .select("doc_id", "ngrams", "fp")
        .localCheckpoint(eager=False)
    )
    per = sel.groupBy("doc_id").agg(
        F.max("ngrams").cast("long").alias("n_grams"),
        F.count("*").cast("long").alias("n_windows"),
        F.countDistinct("fp").cast("long").alias("n_fingerprints"),
    )
    docfp = sel.select("doc_id", "fp").distinct().localCheckpoint(eager=False)
    share = docfp.groupBy("fp").agg(F.count("*").alias("dcnt"))
    sh = (
        docfp.join(share.filter(F.col("dcnt") >= 2), "fp")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("shared_fp"))
    )
    return (
        per.join(sh, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            "n_windows",
            "n_fingerprints",
            F.expr("(1000 * n_fingerprints) div n_windows")
            .cast("long")
            .alias("density_permille"),
            F.coalesce("shared_fp", F.lit(0)).cast("long").alias("shared_fp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# integer TF-IDF top terms (keyword extraction / retrieval feature)
# ---------------------------------------------------------------------------

#: vocabulary cap for the idf table — same contract as _SURPRISAL_V:
#: document frequencies are only broadcast for the top-V tokens by
#: (df desc, token); any token outside the cap scores as df = 1 (hapax,
#: maximum idf), which is the conservative direction for keyword
#: extraction (rare tokens stay extractable).  Keeps the scoring join a
#: broadcast at any corpus size instead of a shuffle on the zipf-skewed
#: token key.
_TFIDF_V = 65536
_TFIDF_TOPK = 3

_TFIDF_SQL = f"""
    with toks as (
      select doc_id, unnest(string_split(text, ' ')) as tok from documents
    ),
    tc as (select doc_id, tok, count(*)::bigint as tf from toks group by doc_id, tok),
    dft as (select tok, count(*)::bigint as df from tc group by tok),
    vocab as (select tok, df from dft order by df desc, tok limit {_TFIDF_V}),
    nd as (select count(*)::bigint as n from documents),
    scored as (
      select doc_id, tc.tok as term, tf, coalesce(v.df, 1)::bigint as df,
             (tf * (length(bin((select n from nd)))
                    - length(bin(coalesce(v.df, 1)))))::bigint as score_bits
      from tc left join vocab v using (tok)
    ),
    r as (select *, row_number() over (partition by doc_id
                                       order by score_bits desc, term) as rk
          from scored)
    select doc_id, term, tf, df, score_bits, rk::bigint as rk
    from r where rk <= {_TFIDF_TOPK} order by doc_id, rk
"""


@_q("tfidf_topterms", _TFIDF_SQL)
def tfidf_topterms(spark, sf_dir):
    """Per-document top-{TOPK} TF-IDF terms in EXACT integer arithmetic —
    the keyword-extraction / retrieval-feature primitive (Sparck Jones'
    idf; the scoring half of what bm25_topk ranks with), hash-portable
    via the same quantized log as unigram_surprisal: idf is whole bits,
    ilog2(N_docs) - ilog2(df), computed as a bin()-length difference
    (bit-identical in Spark and DuckDB), and the score is tf x idf_bits
    — no float enters the result.  Ties break on the term string, so the
    top-k set is fully deterministic.

    Scale shape: one explode -> map-side-combined groupBy(doc_id, tok)
    builds per-doc term counts (bounded by per-doc vocabulary, NOT token
    volume); the df table aggregates that already-thinned table and is
    capped at V by a distributed TakeOrdered; scoring is then a
    BROADCAST join (zero shuffle on the token key) and the top-k is a
    per-doc window over <= |doc vocab| rows.  Two corpus passes, both
    embarrassingly parallel — the same shape that scales
    unigram_surprisal."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tc = toks.groupBy("doc_id", "tok").agg(F.count("*").cast("long").alias("tf"))
    dft = tc.groupBy("tok").agg(F.count("*").alias("df"))
    vocab = dft.orderBy(F.desc("df"), F.asc("tok")).limit(_TFIDF_V)
    nd = d.agg(F.count("*").alias("n"))
    scored = (
        tc.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            "tf",
            F.coalesce("df", F.lit(1)).cast("long").alias("df"),
            (
                F.col("tf")
                * (
                    F.length(F.bin(F.col("n")))
                    - F.length(F.bin(F.coalesce(F.col("df"), F.lit(1))))
                )
            )
            .cast("long")
            .alias("score_bits"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_bits"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df", "score_bits", "rk")
        .orderBy("doc_id", "rk")
    )


# ---------------------------------------------------------------------------
# embedding-space eval: trained-IVF cluster purity against gold labels
# ---------------------------------------------------------------------------

def _label_purity_sql() -> str:
    from .queries_ml import _ivf_sql_ctes

    return f"""
    with {_ivf_sql_ctes()},
    m as (select vec_id, cid from assign where rk = 1),
    j as (select m.cid, e.label from m join embeddings e using (vec_id)),
    c as (select cid, label, count(*)::bigint as n from j group by 1, 2),
    t as (select cid, sum(n)::bigint as cluster_n from c group by 1),
    r as (select cid, label, n,
                 row_number() over (partition by cid order by n desc, label) as rk
          from c)
    select r.cid::bigint as cid, r.label::bigint as top_label, r.n as top_n,
           t.cluster_n, ((1000 * r.n) // t.cluster_n)::bigint as purity_permille
    from r join t using (cid) where r.rk = 1 order by cid
    """


@_q("ivf_label_purity", _label_purity_sql())
def ivf_label_purity(spark, sf_dir):
    """Embedding-quality eval: per trained-IVF cluster, the majority GOLD
    label (the `label` column the embeddings table carries), its count,
    the cluster size, and integer per-mille purity — the standard
    clustering-vs-ground-truth report a pipeline runs before trusting
    unsupervised clusters for dedup caps, topic mixing, or SemDeDup
    pruning (high purity = the cheap clusters track real semantics; low
    purity = bucketed dedup is comparing unrelated docs).

    Reuses the one trained-centroid assignment
    (:func:`queries_ml._ivf_assign_ranked`, rk=1) that search/dedup/
    topic-mix already share — no new training pass.  Scale shape: the
    K-bounded centroid broadcast scan plus two tiny (cid, label)
    aggregates; majority pick is a row_number window over the per-
    cluster label histogram (K x |labels| rows — trivially small); all
    output math is integer (count, floor-division per-mille), so the
    oracle hash cannot drift."""
    from .queries_ml import _dvec, _dot, _ivf_assign_ranked, _ivf_k_of, _vec_count

    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _dvec(F.col("embedding")).alias("e"))
    n = e.withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e"))))
    k = _ivf_k_of(_vec_count(sf_dir, "embeddings", n))
    m = _ivf_assign_ranked(n, k).filter(F.col("rk") == 1).select("vec_id", "cid")
    c = (
        m.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").cast("long").alias("n"))
    )
    t = c.groupBy("cid").agg(F.sum("n").cast("long").alias("cluster_n"))
    w = Window.partitionBy("cid").orderBy(F.desc("n"), F.asc("label"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(t, "cid")
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.col("label").cast("long").alias("top_label"),
            F.col("n").alias("top_n"),
            "cluster_n",
            F.expr("(1000 * n) div cluster_n").cast("long").alias(
                "purity_permille"
            ),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# distribution-drift monitoring: per-source KS statistic vs the corpus
# ---------------------------------------------------------------------------

#: fixed length grid for the drift CDFs: n_chars clamped to [0, _KS_CLAMP]
#: and bucketed by _KS_STEP chars -> _KS_BUCKETS cumulative grid points.
#: A FIXED grid (not data-dependent quantiles) is what makes the operator
#: one groupBy at any corpus size AND bit-identical across engines: the
#: CDF comparison reduces to integer counts per (source, bucket).
_KS_STEP = 50
_KS_BUCKETS = 12  # covers n_chars 0..599; larger docs clamp into the top bin
_KS_CLAMP = _KS_STEP * _KS_BUCKETS - 1

_KS_SQL = f"""
    with b as (
      select source, least(n_chars, {_KS_CLAMP}) // {_KS_STEP} as b from documents
    ),
    grid as (
      select s.source, r.g
      from (select distinct source from b) s, unnest(range({_KS_BUCKETS})) as r(g)
    ),
    cnts as (select source, b, count(*)::bigint as n from b group by 1, 2),
    filled as (
      select g.source, g.g as b, coalesce(c.n, 0)::bigint as n
      from grid g left join cnts c on c.source = g.source and c.b = g.g
    ),
    cum as (
      select source, b,
             sum(n) over (partition by source order by b)::bigint as cs,
             sum(n) over (partition by source)::bigint as ns
      from filled
    ),
    gcum as (
      select b, sum(gn) over (order by b)::bigint as cg,
             (select count(*) from documents)::bigint as nn
      from (select b, sum(n)::bigint as gn from filled group by 1)
    ),
    j as (
      select c.source, c.b, abs(c.cs * g.nn - g.cg * c.ns)::bigint as diff,
             c.ns, g.nn
      from cum c join gcum g using (b)
    ),
    r as (select *, row_number() over (partition by source
                                       order by diff desc, b) as rk from j)
    select source, ns as n_docs,
           ((diff * 1000000) // (ns * nn))::bigint as ks_millionths,
           (b * {_KS_STEP} + {_KS_STEP - 1})::bigint as grid_hi
    from r where rk = 1 order by source
"""


@_q("source_drift_ks", _KS_SQL)
def source_drift_ks(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift statistic per source vs the
    whole corpus over the document-length distribution — the
    distribution-monitoring primitive a training-data pipeline runs on
    every crawl snapshot to catch a source whose content shifted
    (template change, spam flood, truncation bug) before it skews the
    mixture.  KS = max over the grid of |CDF_source - CDF_corpus|.

    Portability: the statistic is the integer cross-multiplication form
    |cs*N - cg*ns| (both engines compare exact products; the per-source
    denominator ns*N is constant across grid points, so the argmax is a
    pure integer max) and only the final reported ks is scaled to
    millionths by one floor division — no float exists anywhere.

    Scale shape: ONE map-side-combined groupBy(source, bucket) over the
    corpus (grid cardinality {_KS_BUCKETS}), then all remaining work is
    over |sources| x {_KS_BUCKETS} rows — window cumsums and a broadcast
    join on the tiny global-CDF table.  Overflow bound (int64): the
    binding term is the FINAL scaling ``diff * 1e6`` with diff bounded
    by ns*nn, so exactness ends once ns * N exceeds ~9.2e12 — e.g. a
    1e6-doc source in a 1e7-doc corpus — well before the cross-products
    cs*N themselves wrap (~9.2e18).  Production therefore promotes diff
    to decimal(38,0) (or divides by ns*nn before scaling) as soon as
    ns * N approaches 9.2e12 — same plan shape, still exact integers."""
    d = _t(spark, sf_dir, "documents")
    b = d.select(
        "source",
        F.expr(f"least(n_chars, {_KS_CLAMP}) div {_KS_STEP}").alias("b"),
    )
    cnts = b.groupBy("source", "b").agg(F.count("*").cast("long").alias("n"))
    grid = (
        b.select("source")
        .distinct()
        .select(
            "source",
            F.explode(
                F.sequence(F.lit(0), F.lit(_KS_BUCKETS - 1))
            ).alias("b0"),
        )
        .select("source", F.col("b0").cast("long").alias("b"))
    )
    filled = (
        grid.join(cnts, ["source", "b"], "left")
        .select("source", "b", F.coalesce("n", F.lit(0)).cast("long").alias("n"))
    )
    wcum = Window.partitionBy("source").orderBy("b")
    wall = Window.partitionBy("source")
    cum = filled.select(
        "source",
        "b",
        F.sum("n").over(wcum).cast("long").alias("cs"),
        F.sum("n").over(wall).cast("long").alias("ns"),
    )
    nn = d.agg(F.count("*").cast("long").alias("nn"))
    gcum = (
        filled.groupBy("b")
        .agg(F.sum("n").cast("long").alias("gn"))
        .select(
            "b",
            F.sum("gn").over(Window.orderBy("b")).cast("long").alias("cg"),
        )
        .crossJoin(F.broadcast(nn))
    )
    j = cum.join(F.broadcast(gcum), "b").select(
        "source",
        "b",
        F.abs(F.col("cs") * F.col("nn") - F.col("cg") * F.col("ns"))
        .cast("long")
        .alias("diff"),
        "ns",
        "nn",
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("diff"), F.asc("b"))
    )
    return (
        j.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "source",
            F.col("ns").alias("n_docs"),
            F.expr("(diff * 1000000) div (ns * nn)").cast("long").alias(
                "ks_millionths"
            ),
            (F.col("b") * _KS_STEP + (_KS_STEP - 1))
            .cast("long")
            .alias("grid_hi"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# domain-signature terms: per-source lift over the corpus rate
# ---------------------------------------------------------------------------

#: global-count gate + vocabulary cap for the broadcast rate table —
#: same contract as _TFIDF_V: the per-token corpus rates are only
#: broadcast for the top-_LIFT_V tokens (by count desc, token) that
#: clear _LIFT_MIN_R occurrences; everything rarer is not a stable
#: "domain signature" at any corpus size and is excluded from ranking.
_LIFT_MIN_R = 10
_LIFT_V = 65536
_LIFT_TOPK = 5

_LIFT_SQL = f"""
    with toks as (
      select source, unnest(string_split(text, ' ')) as tok from documents
    ),
    o as (select source, tok, count(*)::bigint as n_in_source
          from toks group by 1, 2),
    rt as (select tok, sum(n_in_source)::bigint as r from o group by 1),
    vocab as (select tok, r from rt where r >= {_LIFT_MIN_R}
              order by r desc, tok limit {_LIFT_V}),
    ct as (select source, sum(n_in_source)::bigint as c from o group by 1),
    nt as (select sum(n_in_source)::bigint as n from o),
    scored as (
      select o.source, o.tok, o.n_in_source,
             ((o.n_in_source * 1000000) // ct.c)::bigint as rate_s_ppm,
             ((v.r * 1000000) // nt.n)::bigint as rate_g_ppm
      from o join vocab v using (tok) join ct using (source), nt
    ),
    lift as (
      select source, tok, n_in_source,
             ((rate_s_ppm * 1000) // rate_g_ppm)::bigint as lift_millis
      from scored where rate_g_ppm >= 1
    ),
    r as (select *, row_number() over (partition by source
                                       order by lift_millis desc, tok) as rk
          from lift)
    select source, tok as term, n_in_source, lift_millis, rk::bigint as rk
    from r where rk <= {_LIFT_TOPK} order by source, rk
"""


@_q("term_source_lift", _LIFT_SQL)
def term_source_lift(spark, sf_dir):
    """Per-source top-{_LIFT_TOPK} DOMAIN-SIGNATURE terms by integer
    lift: how over-represented a token is in one source relative to the
    whole corpus (lift = source rate / corpus rate, reported in
    millis so 1000 = corpus-typical).  The domain-analysis /
    mixture-diagnostics primitive: before weighting sources into a
    training mix, a pipeline inspects what each source is actually
    ABOUT, and a sudden signature change is the content-drift twin of
    :func:`source_drift_ks`'s length drift.  Complements (does not
    duplicate) tfidf_topterms (per-DOC keywords) and bigram_pmi_top
    (token-PAIR association): this is token<->SOURCE association.

    Portability: rates are integer parts-per-million (floor division of
    exact counts), lift is one more integer floor division, ranking ties
    break on the term string — no float enters the plan.

    Scale shape: explode -> map-side-combined groupBy(source, tok)
    (bounded by per-source vocabulary, not token volume); the corpus
    rate table is capped at {_LIFT_V} rows and BROADCAST, the per-source
    totals are |sources| rows and broadcast; the top-k is a window over
    per-source vocab.  Two passes over the thinned (source, tok) table,
    zero shuffles on the zipf-skewed token key."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    o = toks.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("n_in_source")
    )
    rt = o.groupBy("tok").agg(F.sum("n_in_source").cast("long").alias("r"))
    vocab = (
        rt.filter(F.col("r") >= _LIFT_MIN_R)
        .orderBy(F.desc("r"), F.asc("tok"))
        .limit(_LIFT_V)
    )
    ct = o.groupBy("source").agg(F.sum("n_in_source").cast("long").alias("c"))
    nt = o.agg(F.sum("n_in_source").cast("long").alias("n"))
    scored = (
        o.join(F.broadcast(vocab), "tok")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(nt))
        .select(
            "source",
            "tok",
            "n_in_source",
            F.expr("(n_in_source * 1000000) div c").cast("long").alias(
                "rate_s_ppm"
            ),
            F.expr("(r * 1000000) div n").cast("long").alias("rate_g_ppm"),
        )
    )
    lift = scored.filter(F.col("rate_g_ppm") >= 1).select(
        "source",
        "tok",
        "n_in_source",
        F.expr("(rate_s_ppm * 1000) div rate_g_ppm").cast("long").alias(
            "lift_millis"
        ),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.desc("lift_millis"), F.asc("tok")
        )
    )
    return (
        lift.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= _LIFT_TOPK)
        .select("source", F.col("tok").alias("term"), "n_in_source",
                "lift_millis", "rk")
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# content-policy lexicon filter (the C4-style badwords gate)
# ---------------------------------------------------------------------------

#: stand-in policy lexicon drawn from the synthetic vocabulary so the
#: gate is exercised end-to-end on the driver's tables.  Production
#: swaps in the real lexicon as a broadcast table (or, at a few
#: thousand entries, this same inlined IN-list — Catalyst compiles it
#: to a hash set probe); the plan shape does not change.
_BLOCKLIST = ("slow", "dup", "big")
#: keep threshold in ppm of tokens: >= 10% lexicon tokens drops the doc
#: (splits the synthetic corpus ~80/20 so both classes stay nonvacuous)
_BLOCK_MAX_PPM = 100_000

_BLOCK_IN = ", ".join(f"'{w}'" for w in _BLOCKLIST)

_BLOCK_SQL = f"""
    select doc_id,
           len(string_split(text, ' '))::bigint as n_tokens,
           len(list_filter(string_split(text, ' '),
                           x -> x in ({_BLOCK_IN})))::bigint as n_flagged,
           ((len(list_filter(string_split(text, ' '),
                             x -> x in ({_BLOCK_IN}))) * 1000000)
            // len(string_split(text, ' ')))::bigint as ratio_ppm,
           (case when (len(list_filter(string_split(text, ' '),
                                       x -> x in ({_BLOCK_IN}))) * 1000000)
                      // len(string_split(text, ' ')) < {_BLOCK_MAX_PPM}
                 then 1 else 0 end)::bigint as keep
    from documents order by doc_id
"""


@_q("blocklist_filter_stats", _BLOCK_SQL)
def blocklist_filter_stats(spark, sf_dir):
    """Content-policy lexicon gate (the C4 "badwords" stage): per doc,
    total tokens, tokens matching the policy lexicon, the integer ppm
    ratio, and the keep decision (ratio < {_BLOCK_MAX_PPM} ppm).  Sits
    between the structural quality battery (gopher_quality_flags) and
    dedup in a production pipeline; listed separately because its
    failure mode is different — a lexicon gate is per-token content
    policy, not per-doc statistics.

    Scale shape: ZERO shuffle — one corpus scan of (doc_id, text),
    per-row higher-order array functions entirely inside whole-stage
    codegen (split -> filter-with-IN -> size), the embarrassingly
    parallel ideal.  The lexicon compiles into the plan as a hash-set
    probe; a larger real-world lexicon broadcasts identically.
    Portability: counts and floor-divided ppm only — no float."""
    d = _t(spark, sf_dir, "documents")
    # two-stage projection (the canon_urls lesson): the old single
    # projection inlined split(text) into every output expression
    # (~6 evaluations per row, the lexicon filter 3 of them) because the
    # ratio and keep columns each rebuilt the whole sub-expression.
    # Stage the two counts once; the ppm arithmetic downstream is
    # integer-cheap.
    dw = d.select("doc_id", F.split("text", " ").alias("ws"))
    st = dw.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
        F.size(F.filter("ws", lambda x: x.isin(*_BLOCKLIST)))
        .cast("long")
        .alias("n_flagged"),
    )
    ratio = F.expr("(n_flagged * 1000000) div n_tokens").cast("long")
    return st.select(
        "doc_id",
        "n_tokens",
        "n_flagged",
        ratio.alias("ratio_ppm"),
        F.when(ratio < _BLOCK_MAX_PPM, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# source-similarity map: pairwise bigram-vocabulary Jaccard
# ---------------------------------------------------------------------------

#: bigram vocabulary (unigrams are near-degenerate on tiny vocabularies;
#: 2-grams discriminate while staying one shared-helper call)
_VJ_N = 2

_VJ_SQL = f"""
    with st as (
      select distinct source, unnest({_grams_sql(_VJ_N)}) as gram
      from documents
    ),
    vs as (select source, count(*)::bigint as v from st group by 1),
    inter as (
      select a.source as source_a, b.source as source_b,
             count(*)::bigint as n_shared
      from st a join st b using (gram)
      where a.source < b.source
      group by 1, 2
    )
    select i.source_a, i.source_b, i.n_shared,
           va.v as vocab_a, vb.v as vocab_b,
           ((i.n_shared * 1000000) // (va.v + vb.v - i.n_shared))::bigint
             as jaccard_ppm
    from inter i
      join vs va on va.source = i.source_a
      join vs vb on vb.source = i.source_b
    order by source_a, source_b
"""


@_q("vocab_jaccard_matrix", _VJ_SQL)
def vocab_jaccard_matrix(spark, sf_dir):
    """Source-similarity map: the (source x source) upper-triangle of
    bigram-VOCABULARY Jaccard — the mixture-design companion to
    :func:`source_overlap_matrix` (which counts verified near-dup DOC
    pairs).  Two sources can share almost no duplicated documents yet
    speak the same language about the same things; vocabulary Jaccard
    is that signal, and a mixture designer treats high-vocab-overlap
    sources as one diversity bucket when weighting.

    Portability: set sizes and one floor-divided ppm — exact integers
    end to end (|A u B| = |A| + |B| - |A n B| avoids any union
    materialization).

    Scale shape: the distinct (source, gram) projection is the only
    corpus-volume pass (map-side combined); the pair generation
    self-joins THAT thinned table on gram, so per-gram fan-out is
    bounded by the number of sources carrying the gram (<= |S|, never
    token volume), and the output is the |S| choose 2 triangle.  At
    thousands of sources a pipeline would swap the exact self-join for
    the corpus's existing MinHash machinery (dedup_minhash_lsh) over
    per-source gram sets — same report, sketched; at the driver's
    source counts the exact form is the right plan.  Zero-overlap pairs
    are absent (the inner join keeps the triangle sparse) — identical
    semantics in both engines."""
    d = _t(spark, sf_dir, "documents")
    t = d.select("source", F.split("text", " ").alias("ws"))
    st = (
        t.select(
            "source",
            F.explode(_grams_expr(F.col("ws"), _VJ_N)).alias("gram"),
        )
        .distinct()
    )
    vs = st.groupBy("source").agg(F.count("*").cast("long").alias("v"))
    a = st.select(F.col("source").alias("source_a"), "gram")
    b = st.select(F.col("source").alias("source_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    va = vs.select(F.col("source").alias("source_a"), F.col("v").alias("vocab_a"))
    vb = vs.select(F.col("source").alias("source_b"), F.col("v").alias("vocab_b"))
    return (
        inter.join(F.broadcast(va), "source_a")
        .join(F.broadcast(vb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "vocab_a",
            "vocab_b",
            F.expr("(n_shared * 1000000) div (vocab_a + vocab_b - n_shared)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# gate-agreement audit: how the independent quality gates overlap
# ---------------------------------------------------------------------------

_AGREE_SQL = """
    with rep as (select doc_id, keep as rep_keep from ({rep})),
    qf as (select doc_id, keep as flags_keep from ({qf})),
    bl as (select doc_id, keep as block_keep from ({bl})),
    clf as (select doc_id,
                   (case when label = 'keep' then 1 else 0 end)::bigint
                     as clf_keep
            from ({clf}))
    select rep_keep, flags_keep, block_keep, clf_keep,
           count(*)::bigint as n_docs
    from rep join qf using (doc_id) join bl using (doc_id)
             join clf using (doc_id)
    group by 1, 2, 3, 4
    order by 1, 2, 3, 4
"""


def _agree_sql() -> str:
    return _AGREE_SQL.format(
        rep=ORACLE_SQL["gopher_repetition"],
        qf=ORACLE_SQL["gopher_quality_flags"],
        bl=ORACLE_SQL["blocklist_filter_stats"],
        clf=ORACLE_SQL["quality_classifier_score"],
    )


@_q("quality_gate_agreement", _agree_sql())
def quality_gate_agreement(spark, sf_dir):
    """Gate-vs-gate audit: the 2^4 agreement matrix of the pipeline's
    four INDEPENDENT quality gates — repetition (gopher_repetition),
    structural flags (gopher_quality_flags), content-policy lexicon
    (blocklist_filter_stats), and the linear classifier
    (quality_classifier_score) — as per-cell doc counts.  This is the
    report a pipeline owner reads before composing gates into the final
    keep rule: a gate whose drops are a subset of another's adds
    nothing; a gate that disagrees with all others on a large cell is
    either the only thing catching a real failure mode or miscalibrated
    (tightening thresholds against this matrix is the calibration
    loop).  The all-ones cell is the AND-rule survivor count.

    Reuses the four REGISTERED operators verbatim (Spark and oracle
    sides both), so each marginal of this matrix is independently
    pinned by those queries' own oracle checks.  Scale shape: the four
    gate plans each scan the corpus once; the audit joins their
    doc-keyed outputs (AQE co-partitions the equi-joins) and the matrix
    itself is a 16-row groupBy.  A production run materializes the gate
    columns side by side and feeds this from the combined table — same
    16-row result."""
    rep = gopher_repetition(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("long").alias("rep_keep")
    )
    qf = gopher_quality_flags(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("long").alias("flags_keep")
    )
    bl = blocklist_filter_stats(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("long").alias("block_keep")
    )
    clf = quality_classifier_score(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("label") == "keep", F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("clf_keep"),
    )
    return (
        rep.join(qf, "doc_id")
        .join(bl, "doc_id")
        .join(clf, "doc_id")
        .groupBy("rep_keep", "flags_keep", "block_keep", "clf_keep")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("rep_keep", "flags_keep", "block_keep", "clf_keep")
    )
