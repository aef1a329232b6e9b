"""Unit tests for the round-2 pipeline operators (plans/pipelines.py,
operators/graph.py, functions/text.chunks): hand-computed expectations
on tiny planted inputs, independent of the driver's oracle harness."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.functions import text as TX
from bigdata_invoice_stream_analysis_spark.operators import graph as G
from bigdata_invoice_stream_analysis_spark.operators import similarity as SIM


# ---------------------------------------------------------------------------
# chunks()
# ---------------------------------------------------------------------------

def test_chunks_splits_and_clips(spark):
    toks = [f"t{i}" for i in range(23)]
    df = spark.createDataFrame([(" ".join(toks),)], "text string")
    out = df.select(
        TX.chunks(TX.tokenize(F.col("text")), 10).alias("ch")
    ).first()["ch"]
    assert len(out) == 3
    assert out[0] == " ".join(toks[0:10])
    assert out[1] == " ".join(toks[10:20])
    assert out[2] == " ".join(toks[20:23])  # final partial chunk


def test_chunks_empty_text_yields_no_chunks(spark):
    df = spark.createDataFrame([("",), ("...",)], "text string")
    rows = df.select(
        F.size(TX.chunks(TX.tokenize(F.col("text")), 10)).alias("n")
    ).collect()
    assert [r["n"] for r in rows] == [0, 0]


# ---------------------------------------------------------------------------
# Chunk-level dedup semantics (keep-first) on a planted corpus
# ---------------------------------------------------------------------------

def test_chunk_keep_first_rule(spark):
    # doc 1 and doc 2 share an identical 10-token chunk at different
    # positions; the doc-1 copy (lower doc_id) must survive.
    shared = " ".join(f"s{i}" for i in range(10))
    other = " ".join(f"u{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, shared + " " + other), (2, other[::-1] + " " + shared)],
        "doc_id long, text string",
    )
    ch = df.select(
        "doc_id",
        F.posexplode(TX.chunks(TX.tokenize(F.col("text")), 10)).alias(
            "pos", "chunk"
        ),
    ).select("doc_id", (F.col("pos") + 1).alias("idx"), "chunk")
    from pyspark.sql.window import Window

    w = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    ranked = ch.withColumn("rn", F.row_number().over(w))
    dropped = {
        (r["doc_id"], r["chunk"])
        for r in ranked.where(F.col("rn") > 1).collect()
    }
    assert dropped == {(2, shared)}


# ---------------------------------------------------------------------------
# Integer PageRank vs a pure-Python model
# ---------------------------------------------------------------------------

def _py_pagerank(edges_sym, iters):
    from collections import defaultdict

    deg = defaultdict(int)
    for u, _ in edges_sym:
        deg[u] += 1
    ranks = {u: G.RANK_SCALE for u in deg}
    base = G.RANK_SCALE - (G.DAMP_NUM * G.RANK_SCALE) // G.DAMP_DEN
    for _ in range(iters):
        s = defaultdict(int)
        for u, v in edges_sym:
            s[v] += ranks[u] // deg[u]
        ranks = {v: base + (G.DAMP_NUM * sv) // G.DAMP_DEN for v, sv in s.items()}
    return ranks


def test_pagerank_matches_python_model(spark):
    # Triangle 1-2-3 plus pendant 4 attached to 1.
    und = [(1, 2), (2, 3), (1, 3), (1, 4)]
    edges = spark.createDataFrame(und, "u long, v long")
    sym = G.symmetrize(edges)
    got = {
        r["node"]: r["pr_score"]
        for r in G.pagerank_int(sym, iterations=4).collect()
    }
    sym_py = [(u, v) for u, v in und] + [(v, u) for u, v in und]
    want = _py_pagerank(sym_py, 4)
    assert got == want
    # Hub (node 1, degree 3) must outrank the pendant.
    assert got[1] > got[4]


def test_pagerank_mass_is_conserved_approximately(spark):
    # With integer floors, total mass can only leak downward, and by
    # less than (deg_total + n_nodes) nano-units per iteration.
    und = [(1, 2), (2, 3), (3, 4), (4, 1)]
    sym = G.symmetrize(spark.createDataFrame(und, "u long, v long"))
    total = sum(
        r["pr_score"] for r in G.pagerank_int(sym, iterations=3).collect()
    )
    assert 0.999 * 4 * G.RANK_SCALE < total <= 4 * G.RANK_SCALE


# ---------------------------------------------------------------------------
# Binned interval join: bucket explode + refine has no dup/miss
# ---------------------------------------------------------------------------

def test_binned_interval_join_equals_nlj(spark):
    periods = spark.createDataFrame(
        [(1, "2020-01-01", "2020-01-20"), (2, "2020-01-15", "2020-02-10")],
        "period_id long, p_start string, p_end string",
    ).select(
        "period_id",
        F.col("p_start").cast("date").alias("p_start"),
        F.col("p_end").cast("date").alias("p_end"),
    )
    probe = spark.createDataFrame(
        [(d,) for d in ["2019-12-31", "2020-01-01", "2020-01-15",
                        "2020-01-20", "2020-02-10", "2020-02-11"]],
        "d string",
    ).select(F.col("d").cast("date").alias("od"))
    epoch = F.lit("1992-01-01").cast("date")

    def wk(c):
        return F.floor(F.datediff(c, epoch) / 7)

    pex = periods.select(
        "period_id", "p_start", "p_end",
        F.explode(F.sequence(wk(F.col("p_start")), wk(F.col("p_end")))).alias("wk"),
    )
    probe_wk = probe.withColumn("wk", wk(F.col("od")))
    binned = (
        probe_wk.join(
            F.broadcast(pex),
            (F.col("od") >= F.col("p_start")) & (F.col("od") <= F.col("p_end"))
            & (probe_wk["wk"] == pex["wk"]),
        )
        .select("period_id", "od")
    )
    nlj = probe.crossJoin(periods).where(
        (F.col("od") >= F.col("p_start")) & (F.col("od") <= F.col("p_end"))
    ).select("period_id", "od")
    assert sorted(map(tuple, binned.collect())) == sorted(map(tuple, nlj.collect()))
    # Sanity: inclusive bounds both matched, out-of-range days did not.
    matched_days = {str(r["od"]) for r in binned.collect()}
    assert "2019-12-31" not in matched_days and "2020-02-11" not in matched_days
    assert "2020-01-01" in matched_days and "2020-02-10" in matched_days


# ---------------------------------------------------------------------------
# SemDeDup: same-cell near-dups drop, cross-cell never compared
# ---------------------------------------------------------------------------

def test_semdedup_only_compares_within_cells(spark):
    # Cells at (1000, 0) and (0, 1000). Vectors 1,2 are identical and
    # land in cell A -> 2 drops. Vector 3 equals vector 1 but sits by
    # construction in cell B's neighborhood, so it is never compared
    # against 1 and survives.
    rows = [
        (1, [1000, 0]),
        (2, [1000, 0]),
        (3, [0, 1000]),
        (4, [0, 999]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    codebook = [(100, [1000, 0]), (200, [0, 1000])]
    assigned = SIM.assign_cells_literal(df, codebook, "qv")
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = SIM.quant_cosine(F.col("a.qv"), F.col("b.qv"))
    dropped = (
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(cos >= 0.99)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    got = {r["vec_id"] for r in dropped.collect()}
    assert got == {2, 4}  # 2 dups 1 in cell A; 4 dups 3 in cell B (cos~0.9999995)
    cells = {r["vec_id"]: r["cell_id"] for r in assigned.collect()}
    assert cells[1] == cells[2] == 100 and cells[3] == cells[4] == 200


# ---------------------------------------------------------------------------
# Count-min sketch: one-sided error, exact on unique cells
# ---------------------------------------------------------------------------

def test_cms_never_undercounts(spark):
    from bigdata_invoice_stream_analysis_spark.operators import sketches as SK

    rows = [(k,) for k in [1] * 50 + [2] * 30 + [3] * 5 + list(range(100, 160))]
    df = spark.createDataFrame(rows, "k long")
    cells = SK.cms_cells(df, "k")
    exact = df.groupBy("k").count()
    est = SK.cms_estimate(exact.select("k"), cells, "k")
    j = {r["k"]: (r["count"], r["cms_est"])
         for r in exact.join(est, "k").collect()}
    assert all(e >= c for c, e in j.values())
    # Heavy keys are far from the collision noise floor: estimates for
    # them are exact unless another key collides in all 4 rows.
    assert j[1][1] >= 50 and j[2][1] >= 30


def test_cms_hash_is_engine_mirrorable(spark):
    from bigdata_invoice_stream_analysis_spark.operators import sketches as SK
    import duckdb

    keys = [0, 1, 17, 12345, 999_999_937]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = df.select(
        "k", *[SK.cms_hash(F.col("k"), r).alias(f"h{r}") for r in range(SK.CMS_D)]
    ).collect()
    for row in got:
        for r in range(SK.CMS_D):
            want = duckdb.sql(
                f"SELECT {SK.sql_cms_hash(str(row['k']), r)}"
            ).fetchone()[0]
            assert row[f"h{r}"] == want


# ---------------------------------------------------------------------------
# Prefix filtering: identical pairs to the exact inverted-index join
# ---------------------------------------------------------------------------

def test_prefix_filter_matches_exact_jaccard(spark):
    from bigdata_invoice_stream_analysis_spark.operators import dedup as DD
    from bigdata_invoice_stream_analysis_spark.cache import release_caches

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base),
        (2, base + " extra tail tokens here"),          # near-dup of 1
        (3, "totally different words nothing shared"),
        (4, base.replace("gamma", "mu")),               # near-dup of 1
        (5, "another unrelated string of tokens"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"])
        for r in DD.jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.2).collect()
    }
    pf = DD.jaccard_prefix_pairs(df, "doc_id", "text", n=3, threshold=0.2)
    got = {(r["id_a"], r["id_b"]) for r in pf.collect()}
    release_caches()
    assert got == exact and (1, 2) in got


# ---------------------------------------------------------------------------
# PQ: encode determinism and ADC consistency
# ---------------------------------------------------------------------------

def pq_encode_literal(
    df,
    codebooks: list[list[tuple[int, list[int]]]],
    vec_col: str = "qv",
):
    """The plan-literal PQ encode: per-subspace nearest-centroid
    POSITION (0-based, in the cid-sorted codebook) as ``code_{m}`` int
    columns, argmin of ||c||^2 - 2*x.c as one ``aggregate`` fold over a
    literal codebook, ties to the lowest position. An independent
    expression-form reference for the graded ``pq_encode_np`` path."""
    sub_len = len(codebooks[0][0][1])
    code_cols = []
    for m, book in enumerate(codebooks):
        ordered = sorted(book)
        cents = F.array(
            *[
                F.array(*[F.lit(int(x)).cast("long") for x in cv])
                for _, cv in ordered
            ]
        )
        c2s = F.array(
            *[
                F.lit(sum(int(x) * int(x) for x in cv)).cast("long")
                for _, cv in ordered
            ]
        )
        sub = F.slice(F.col(vec_col), m * sub_len + 1, sub_len)

        def score(p, cents=cents, c2s=c2s, sub=sub):
            dot = F.aggregate(
                F.zip_with(sub, F.element_at(cents, p + 1), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            return F.element_at(c2s, p + 1) - F.lit(2) * dot

        # Evaluate each centroid's score exactly once, then argmin via
        # lexicographic struct-min (ties -> lowest position = lowest
        # cid, matching the oracle's (dist, cid) ordering).
        positions = F.sequence(F.lit(0), F.lit(len(ordered) - 1))
        scores = F.transform(positions, lambda p: score(p))
        best = F.array_min(
            F.zip_with(
                scores,
                positions,
                lambda s, p: F.struct(s.alias("d"), p.cast("int").alias("pos")),
            )
        )
        code_cols.append(best["pos"].alias(f"code_{m}"))
    return df.select("*", *code_cols)



def test_pq_encode_and_adc(spark):
    """The graded PQ path on a hand-checkable codebook: pq_encode_np
    codes, then ADC through a query's lookup table (pq_adc_lut +
    adc_from_lut_codes)."""
    from bigdata_invoice_stream_analysis_spark.operators import similarity as SIM

    # 4-dim vectors, 2 subspaces of 2 dims, 2 centroids per subspace.
    vecs = [
        (1, [10, 0, 0, 10]),
        (2, [9, 1, 1, 9]),     # near 1 -> same codes
        (3, [0, 10, 10, 0]),   # opposite corner
    ]
    df = spark.createDataFrame(vecs, "vec_id long, qv array<long>")
    books = [
        [(100, [10, 0]), (200, [0, 10])],   # subspace 0
        [(100, [0, 10]), (200, [10, 0])],   # subspace 1
    ]
    enc = SIM.pq_encode_np(df, books, "qv")
    codes = {r["vec_id"]: tuple(r["codes"]) for r in enc.collect()}
    # Codes are POSITIONS in the cid-sorted book: cid 100 -> 0, 200 -> 1.
    assert codes[1] == (0, 0) and codes[2] == (0, 0)
    assert codes[3] == (1, 1)
    # ADC distance of vector 1's own vector against codes of 3 is the
    # distance to 3's reconstructed centroids: (10,0,0,10)->(0,10,10,0)
    lut = SIM.pq_adc_lut([10, 0, 0, 10], books)
    q = spark.createDataFrame([(1, lut)], "qid long, lut array<long>")
    adc = (
        enc.crossJoin(q)
        .select("vec_id", SIM.adc_from_lut_codes(
            F.col("lut"), F.col("codes"), 2, 2).alias("d"))
    )
    d = {r["vec_id"]: r["d"] for r in adc.collect()}
    assert d[1] == 0 and d[2] == 0          # same cell -> reconstruction = query
    assert d[3] == 4 * 100                  # each dim off by 10, 4 dims


def test_pq_np_encode_matches_literal_encode(spark):
    """The vectorized Arrow encode (graded path) and the plan-literal
    expression encode must produce identical codes on real vectors."""
    from bigdata_invoice_stream_analysis_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = e.select("vec_id", SIM.quantize(F.col("embedding")).alias("qv"))
    sampled = base.filter(F.col("vec_id") % 7 == 0).collect()
    books = [
        [(int(r["vec_id"]), [int(x) for x in r["qv"][m * 8:(m + 1) * 8]])
         for r in sampled]
        for m in range(8)
    ]
    lit = {
        r["vec_id"]: tuple(r[f"code_{m}"] for m in range(8))
        for r in pq_encode_literal(base, books, "qv").collect()
    }
    np_ = {
        r["vec_id"]: tuple(r["codes"])
        for r in SIM.pq_encode_np(base, books, "qv").collect()
    }
    assert lit == np_ and len(lit) > 0


def test_semdedup_np_matches_expression_form(spark):
    """assign_cells_np + semdedup_cell_drops (graded Arrow path) must
    equal the expression-form assignment + cell-keyed self-join on the
    real embeddings table."""
    from bigdata_invoice_stream_analysis_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    v = e.select("vec_id", SIM.quantize(F.col("embedding")).alias("qv"))
    codebook = [
        (int(r["vec_id"]), [int(x) for x in r["qv"]])
        for r in v.filter(F.col("vec_id") % 11 == 0).collect()
    ]
    tau = -2.0  # below any cosine: every within-cell pair qualifies
    np_assigned = SIM.assign_cells_np(v, codebook, "qv")
    got = {
        (r["vec_id"], r["cell_id"], round(r["max_cos"], 6))
        for r in SIM.semdedup_cell_drops(np_assigned, tau=tau).collect()
    }
    ex_assigned = SIM.assign_cells_literal(v, codebook, "qv")
    a, b = ex_assigned.alias("a"), ex_assigned.alias("b")
    cos = SIM.quant_cosine(F.col("a.qv"), F.col("b.qv"))
    want = {
        (r["vec_id"], r["cell_id"], round(r["mc"], 6))
        for r in (
            a.join(
                b,
                (F.col("a.cell_id") == F.col("b.cell_id"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .where(cos >= tau)
            .groupBy(
                F.col("b.vec_id").alias("vec_id"),
                F.col("b.cell_id").cast("long").alias("cell_id"),
            )
            .agg(F.max(cos).alias("mc"))
            .collect()
        )
    }
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# Skyline running-min formulation == brute-force domination
# ---------------------------------------------------------------------------

def test_skyline_matches_bruteforce(spark):
    rows = [(i, (i * 37) % 11, (i * 53) % 13) for i in range(60)]
    df = spark.createDataFrame(rows, "pid long, price long, size long")
    g = df.groupBy("price").agg(F.min("size").alias("msize"))
    from pyspark.sql.window import Window

    w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    fp = (
        g.withColumn("rmin", F.min("msize").over(w))
        .filter(F.col("rmin").isNull() | (F.col("msize") < F.col("rmin")))
        .select(F.col("price").alias("fp"), F.col("msize").alias("fs"))
    )
    fast = {
        r["pid"]
        for r in df.join(
            F.broadcast(fp),
            (F.col("price") == F.col("fp")) & (F.col("size") == F.col("fs")),
        ).collect()
    }
    brute = {
        p
        for p, pr, sz in rows
        if not any(
            (qr <= pr and qs <= sz and (qr < pr or qs < sz))
            for _, qr, qs in rows
        )
    }
    assert fast == brute and len(brute) > 0


def test_gini_formula_on_known_distribution(spark):
    # Perfect equality -> gini 0; all-to-one -> approaches 1 - 1/n.
    from pyspark.sql.window import Window

    def gini(values):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], "k long, cents long"
        )
        ranked = df.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.asc("cents"), F.asc("k")))
        )
        r = ranked.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("t"),
            F.sum(F.col("rk") * F.col("cents")).alias("ws"),
        ).first()
        return 2.0 * r["ws"] / (r["n"] * float(r["t"])) - (r["n"] + 1.0) / r["n"]

    assert abs(gini([100] * 10)) < 1e-9
    assert abs(gini([0] * 9 + [1000]) - 0.9) < 1e-9
