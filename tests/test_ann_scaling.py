"""ANN scale parameterization + recall, and the no-per-row-Python guard.

VERDICT r01 items 5 and 7: planes must scale with n; recall must be
measured; no `for i in range(n)` over data rows anywhere in the package.
"""

import os
import re

import numpy as np
import pytest

from skar_spark.ops.dedup import (
    _ANN_TABLES,
    _ANN_TARGET_BUCKET,
    n_planes,
    q_ann_lsh,
)

pytestmark = pytest.mark.spark


def test_planes_grow_with_n():
    assert n_planes(100) == 4
    assert n_planes(500) == 4
    assert n_planes(32_000) == 10
    assert n_planes(32_000_000) == 20
    assert n_planes(10**12) == 20  # clamped
    # bucket population stays ~TARGET as n grows (pre-clamp)
    for n in (10_000, 100_000, 1_000_000):
        assert n / (1 << n_planes(n)) <= 2 * _ANN_TARGET_BUCKET


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """Deterministic corpus with planted near-duplicates: 200 base
    vectors + 100 noisy copies (cos ≈ 0.99) — the embedding-cosine
    near-dup workload ANN exists for."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((200, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    dup = base[:100] + 0.02 * rng.standard_normal((100, 64))
    dup /= np.linalg.norm(dup, axis=1, keepdims=True)
    V = np.vstack([base, dup]).astype(np.float32)
    import pyarrow as pa
    import pyarrow.parquet as pq
    sf_dir = str(tmp_path_factory.mktemp("ann"))
    pq.write_table(pa.table({
        "vec_id": pa.array(range(300), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in V],
                              pa.list_(pa.float32())),
    }), os.path.join(sf_dir, "embeddings.parquet"))
    cos = (V[:100] * V[200:]).sum(axis=1)
    planted_pairs = {(i, 200 + i) for i in range(100)}
    return sf_dir, planted_pairs, float(cos.min())


def test_ann_recall_on_planted_neardups(spark, planted):
    sf_dir, pairs, min_cos = planted
    assert min_cos > 0.95  # the planted dups really are near-dups
    got = {(r.a, r.b) for r in q_ann_lsh(spark, sf_dir).collect()}
    recall = len(got & pairs) / len(pairs)
    assert recall >= 0.9, f"recall {recall} < 0.9"


def test_ann_is_subquadratic_candidates(spark, planted):
    """The pair output must be far below the n²/2 cross product — the
    buckets actually prune."""
    sf_dir, _pairs, _ = planted
    n = 300
    got = q_ann_lsh(spark, sf_dir).count()
    assert got < (n * (n - 1) / 2) * 0.25


_ROW_LOOP = re.compile(r"for\s+\w+\s+in\s+range\((n\b|len\()")
_ALLOWED_MARKERS = ("PARTITION", "metadata", "symbol table", "per-column",
                    "selections", "candidate doc chars")


def test_no_per_row_python_loops():
    """Grep guard (SURVEY §5 promise): no `for i in range(n)`-style loop
    over data rows in any kernel module. Loops over metadata rows /
    constant-size tables must carry an explanatory marker comment."""
    pkg = os.path.join(os.path.dirname(__file__), "..", "skar_spark")
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                for ln, line in enumerate(f, 1):
                    if _ROW_LOOP.search(line) and not any(
                            m in line for m in _ALLOWED_MARKERS):
                        offenders.append(f"{fn}:{ln}: {line.strip()}")
    # known metadata-scale loops (documented, bounded by #partitions /
    # #selections / table size, not data rows)
    allowed_files = {"synth.py", "golden.py"}
    bad = [o for o in offenders if o.split(":")[0] not in allowed_files]
    assert not bad, f"per-row Python loops found: {bad}"


# --- text LSH (lsh_pairs / ngram_jaccard) recall on planted near-dups ---------

def test_lsh_rows_per_band_grow_with_n():
    from skar_spark.ops.dedup import _LSH_BANDS, lsh_rows_per_band
    assert lsh_rows_per_band(500) == 2
    assert lsh_rows_per_band(100_000) == 2
    assert lsh_rows_per_band(10_000_000) == 3
    assert lsh_rows_per_band(10**12) == 4
    assert _LSH_BANDS >= 4  # recall: 1-(1-s^r)^b ≥ 0.97 at s=0.8, r=2


@pytest.fixture(scope="module")
def planted_docs(spark, tmp_path_factory):
    """Deterministic corpus with planted TEXT near-duplicates: 60 base
    docs of 50 vocab words + 30 copies with 2 words substituted
    (word-shingle Jaccard ≈ 0.78, char-4-gram Jaccard ≈ 0.9)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(11)
    vocab = [f"word{i:03d}" for i in range(600)]
    base = [list(rng.choice(vocab, size=50, replace=False))
            for _ in range(60)]
    docs = [" ".join(w) for w in base]
    pairs = set()
    for i in range(30):
        w = list(base[i])
        w[10], w[30] = "novelx", f"novel{i:02d}"
        docs.append(" ".join(w))
        pairs.add((i, 60 + i))
    sf_dir = str(tmp_path_factory.mktemp("lshdocs"))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": pa.array(docs, pa.string()),
        "lang": pa.array(["en"] * len(docs), pa.string()),
    }), os.path.join(sf_dir, "documents.parquet"))
    return sf_dir, pairs, len(docs)


def test_lsh_pairs_recall_on_planted_neardups(spark, planted_docs):
    from skar_spark.ops.dedup import q_lsh_pairs
    sf_dir, pairs, n = planted_docs
    got = {(r.a, r.b) for r in q_lsh_pairs(spark, sf_dir).collect()}
    recall = len(got & pairs) / len(pairs)
    assert recall >= 0.9, f"lsh_pairs recall {recall} < 0.9"
    # and the candidates actually prune (subquadratic volume)
    assert len(got) < (n * (n - 1) / 2) * 0.25


def test_ngram_jaccard_recall_on_planted_neardups(spark, planted_docs):
    from skar_spark.ops.dedup import q_ngram_jaccard
    sf_dir, pairs, _n = planted_docs
    rows = q_ngram_jaccard(spark, sf_dir).collect()
    got = {(r.a, r.b) for r in rows}
    recall = len(got & pairs) / len(pairs)
    assert recall >= 0.9, f"ngram_jaccard recall {recall} < 0.9"
    # planted dups score high on exact char-4-gram verification
    planted_scores = [r.jaccard for r in rows if (r.a, r.b) in pairs]
    assert planted_scores and min(planted_scores) >= 0.5


# --- dedup DECISION ops (survivor sets) on the planted corpora ----------------

def test_embed_dedup_drops_planted_dups(spark, planted):
    """q_embed_dedup must drop the planted noisy copies (ids 200-299,
    cos ≈ 0.99 to their base ≥ the 0.90 threshold) and keep the
    un-duplicated bases (ids 100-199)."""
    from skar_spark.ops.dedup import q_embed_dedup
    sf_dir, _pairs, _ = planted
    kept = {r.vec_id for r in q_embed_dedup(spark, sf_dir).collect()}
    dup_ids = set(range(200, 300))
    assert len(dup_ids - kept) >= 90  # ≥ recall-floor of the 100 dups
    assert set(range(100, 200)) <= kept  # never drops non-duplicates


def test_dedup_near_drops_planted_dups(spark, planted_docs):
    """q_dedup_near must drop the planted text near-copies (ids 60-89)
    and keep the originals (smaller id wins)."""
    from skar_spark.ops.dedup import q_dedup_near
    sf_dir, pairs, n = planted_docs
    kept = {r.doc_id for r in q_dedup_near(spark, sf_dir).collect()}
    dup_ids = {b for (_a, b) in pairs}
    assert len(dup_ids - kept) >= 27  # ≥ 0.9 recall of the 30 dups
    # base docs survive (allow ≤2 spurious same-vocab collisions)
    assert len(set(range(60)) & kept) >= 58


def test_bucket_kernel_matches_expression(spark, planted):
    """The Arrow-batched bucket kernel must agree EXACTLY with the JVM
    expression reference (_bucket_expr) — same fold-left float64
    summation order, so no knife-edge sign flips."""
    from pyspark.sql import functions as F

    from skar_spark.ops.dedup import (
        _ANN_TABLES,
        _bucket_all_tables,
        _bucket_expr,
        n_planes,
    )

    sf_dir, _pairs, _ = planted
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planes = n_planes(300)
    base = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double"))
        .alias("v"))
    got = {(r.vec_id, r.tbl): r.bucket
           for r in _bucket_all_tables(base, planes).collect()}
    for t in range(_ANN_TABLES):
        want = {(r.vec_id, t): r.bucket for r in base.select(
            "vec_id", _bucket_expr(t, planes).alias("bucket")).collect()}
        assert {k: v for k, v in got.items() if k[1] == t} == want


def test_ann_stage_dir_redirect_and_cleanup(spark, monkeypatch, tmp_path):
    """VERDICT r03 item 5 + ADVICE r04: SKAR_STAGE_DIR redirects the
    staging root, SKAR_ANN_STAGE forces staging below the size
    threshold, results match the unstaged plan, OLD foreign stage dirs
    are reclaimed, and a FRESH foreign stage dir (a concurrent job's
    possibly-live staging) is left alone."""
    import os
    import time

    from skar_spark.ops.dedup import _STAGE_MAX_AGE_SEC, q_ann_lsh

    sf = "/root/testdata/sf0.001"
    base = {(r.a, r.b, r.cos) for r in q_ann_lsh(spark, sf).collect()}

    # foreign = different applicationId prefix; old enough to reclaim
    stale = tmp_path / "skar_ann_stage_app-000_deadbeef00"
    stale.mkdir()
    old = time.time() - _STAGE_MAX_AGE_SEC - 60
    os.utime(stale, (old, old))
    # fresh foreign dir: may be a live concurrent job — must survive
    live = tmp_path / "skar_ann_stage_app-111_cafecafe00"
    live.mkdir()
    monkeypatch.setenv("SKAR_STAGE_DIR", str(tmp_path))
    monkeypatch.setenv("SKAR_ANN_STAGE", "1")
    staged = {(r.a, r.b, r.cos) for r in q_ann_lsh(spark, sf).collect()}

    assert staged == base
    assert not stale.exists()             # old foreign dir reclaimed
    assert live.exists()                  # fresh foreign dir untouched
    app = spark.sparkContext.applicationId
    own = [d for d in os.listdir(tmp_path)
           if d.startswith(f"skar_ann_stage_{app}_")]
    assert len(own) == 1                  # exactly one live own stage

    # a second run with the same app but a different tag reclaims the
    # first stage immediately (serial queries within one app)
    prev = own[0]
    (tmp_path / f"skar_ann_stage_{app}_0000000000").mkdir()
    q_ann_lsh(spark, sf).collect()
    assert sorted(
        d for d in os.listdir(tmp_path)
        if d.startswith(f"skar_ann_stage_{app}_")) == [prev]


def test_cosine_brute_guard(spark, monkeypatch):
    """VERDICT r03 item 6: the brute-force baseline refuses oversized
    bases unless explicitly allowed."""
    import skar_spark.ops.dedup as D

    monkeypatch.setattr(D, "_COSINE_BRUTE_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="brute-force"):
        D.q_cosine_topk_brute(spark, "/root/testdata/sf0.001")
    monkeypatch.setenv("SKAR_ALLOW_BRUTE", "1")
    assert D.q_cosine_topk_brute(spark, "/root/testdata/sf0.001").count() > 0


def test_ivf_finds_planted_neardups(spark, planted):
    """IVF nprobe search must place a planted near-duplicate (cos≈0.99)
    at rank 1 for every query vector that has one: directionally-close
    vectors land in the same (or a probed) inverted list."""
    from skar_spark.ops.dedup import _IVF_N_QUERIES, q_ann_ivf

    sf_dir, pairs, _ = planted
    res = q_ann_ivf(spark, sf_dir).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.qid, []).append((r.rk, r.vec_id, r.cos))
    # queries 0.._IVF_N_QUERIES-1 are base vectors with planted dup
    # 200+qid; require the dup found at rank 1 for >= 6 of 8 queries
    hits = 0
    for qid in range(_IVF_N_QUERIES):
        ranked = sorted(by_q.get(qid, []))
        if ranked and ranked[0][1] == 200 + qid:
            hits += 1
    assert hits >= 6, {q: by_q.get(q, [])[:2]
                       for q in range(_IVF_N_QUERIES)}


def test_ivf_lists_scale_with_n():
    from skar_spark.ops.dedup import ivf_n_lists

    assert ivf_n_lists(100) >= 8
    assert ivf_n_lists(10_000) == 100       # lists ≈ √n → ~√n rows/list
    assert ivf_n_lists(1_000_000) == 1000
    # UNCAPPED (VERDICT r04 item 3): lists stay √n at any scale — above
    # _IVF_MAX_LISTS the two-level quantizer takes over instead of the
    # old flat cap that let list sizes grow linearly
    assert ivf_n_lists(10**12) == 10**6


def test_ivf_two_level_engages_above_cap(spark, planted, monkeypatch):
    """With the flat-mode ceiling forced below √n the quantizer must go
    two-level: coarse cells route assignment, per-query candidates stay
    O(nprobe·√n), and the result matches the two-level DuckDB oracle
    exactly (fold-left parity through BOTH argmax levels)."""
    import duckdb

    import skar_spark.ops.dedup as D

    sf_dir, _, _ = planted
    monkeypatch.setattr(D, "_IVF_MAX_LISTS", 8)

    quant = D.ivf_quantizer(spark, sf_dir)
    assert quant["coarse"] is not None        # two-level engaged
    C1, _c1n, cells = quant["coarse"]
    assert len(C1) == 8                       # k1 = max(8, √k)
    assert len(cells) == quant["k"]

    sdf = D.q_ann_ivf(spark, sf_dir)
    got = {(r.qid, r.rk, r.vec_id, r.cos) for r in sdf.collect()}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet')")
    want = {tuple(r) for r in con.execute(
        D.sql_ann_ivf_two_level(quant["n"], 8)).fetchall()}
    assert got == want

    # candidate bound: nprobe fine lists (≈ n/k rows each) per query,
    # drawn only from nprobe1 coarse cells — never a full scan
    n, k = quant["n"], quant["k"]
    bound = D._IVF_N_QUERIES * max(64, 4 * D._IVF_NPROBE * n // k)
    assert sdf.count() <= bound


def test_ivf_matmul_engine_mode_matches_foldleft(spark, planted,
                                                 monkeypatch):
    """SKAR_IVF_MATMUL=1 (engine mode: BLAS matmul assignment instead of
    the fold-left oracle-parity loops) must produce the same lists and
    top-k on well-separated data, in both flat and two-level modes."""
    import skar_spark.ops.dedup as D

    sf_dir, _, _ = planted
    base = {(r.qid, r.rk, r.vec_id, r.cos)
            for r in D.q_ann_ivf(spark, sf_dir).collect()}
    monkeypatch.setenv("SKAR_IVF_MATMUL", "1")
    fast = {(r.qid, r.rk, r.vec_id, r.cos)
            for r in D.q_ann_ivf(spark, sf_dir).collect()}
    assert fast == base

    monkeypatch.setattr(D, "_IVF_MAX_LISTS", 8)  # two-level
    two_fast = {(r.qid, r.rk, r.vec_id, r.cos)
                for r in D.q_ann_ivf(spark, sf_dir).collect()}
    monkeypatch.delenv("SKAR_IVF_MATMUL")
    two_base = {(r.qid, r.rk, r.vec_id, r.cos)
                for r in D.q_ann_ivf(spark, sf_dir).collect()}
    assert two_fast == two_base


def test_ivf_candidates_subquadratic(spark, planted):
    """The scored candidate set must be a small fraction of n per query
    (nprobe lists of ~n/n_lists rows), never a full scan."""
    from skar_spark.ops.dedup import (
        _IVF_N_QUERIES,
        _IVF_NPROBE,
        ivf_n_lists,
        q_ann_ivf,
    )

    sf_dir, _, _ = planted
    n = 300
    # structural bound: nprobe/n_lists of the corpus per query (×4 slack
    # for uneven lists on this tiny n)
    bound = _IVF_N_QUERIES * max(
        64, 4 * _IVF_NPROBE * n // ivf_n_lists(n))
    assert q_ann_ivf(spark, sf_dir).count() <= bound


def test_cosine_blocked_matches_brute_and_scales(spark):
    """The blocked-BLAS exact path returns the brute baseline's answer
    row-for-row on the bigger corpus AND has the scale-safe plan: no
    crossJoin/cartesian, no guard (it never materializes q x n pairs),
    base processed by one mapInArrow pass."""
    from skar_spark.ops.dedup import (
        _COSINE_BRUTE_MAX_ROWS,
        q_cosine_topk_blocked,
        q_cosine_topk_brute,
    )

    sf = "/root/testdata/sf0.1"
    blocked = q_cosine_topk_blocked(spark, sf)
    plan = blocked._sc._jvm.PythonSQLUtils.explainString(
        blocked._jdf.queryExecution(), "formatted")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    got = {(r.qid, r.rk, r.vec_id, r.cos) for r in blocked.collect()}
    want = {(r.qid, r.rk, r.vec_id, r.cos)
            for r in q_cosine_topk_brute(spark, sf).collect()}
    assert got == want
    # and the blocked path carries no brute-force row guard: it is the
    # path you run when n exceeds the baseline's refusal bound
    import inspect
    src = inspect.getsource(q_cosine_topk_blocked)
    assert "SKAR_ALLOW_BRUTE" not in src
    assert _COSINE_BRUTE_MAX_ROWS  # the baseline keeps its guard
