"""Spark-vs-DuckDB parity for every SQL-expressible dataset op — a local
replica of the driver's correctness gate (row count + schema + sorted
values)."""

import math
import os

import pytest

pyspark = pytest.importorskip("pyspark")
import duckdb  # noqa: E402

from nreadability_spark.spark.ops import SQL_OPS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def spark():
    from nreadability_spark.spark.session import get_spark
    s = get_spark("ops-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from "
            f"'{SF_DIR}/{t}.parquet'")
    return con


def normalize(rows, columns):
    """Sort columns by name, canonicalize values, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = f"{v:.6g}"
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [columns[i] for i in order], out


@pytest.mark.parametrize("name", sorted(SQL_OPS))
def test_op_parity(spark, duck, name):
    fn, oracle_sql = SQL_OPS[name]
    sdf = fn(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(oracle_sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}")
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}")

    _, s_norm = normalize(spark_rows, spark_cols)
    _, d_norm = normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(s_norm, d_norm) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: "
        f"{mismatches[:3]}")


def test_dedup_lines_removes_boilerplate(spark):
    """The segment-dedup pass must actually discriminate: some segments
    removed (the corpus repeats 3-token runs across docs by construction),
    most kept, and reassembled text length consistent with the kept
    count."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import dedup_lines
    agg = dedup_lines(spark, SF_DIR).agg(
        F.sum("n_segs").alias("segs"), F.sum("n_kept").alias("kept"),
        F.sum((F.col("n_kept") > F.col("n_segs")).cast("int")).alias("bad"))
    row = agg.collect()[0]
    assert row["bad"] == 0
    assert 0 < row["kept"] < row["segs"]


def test_gopher_quality_discriminates(spark):
    """The rule filter must pass some docs and fail others on the
    synthetic corpus (all-pass or all-fail would mean dead rules)."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import gopher_quality
    row = gopher_quality(spark, SF_DIR).agg(
        F.sum(F.col("passes").cast("int")).alias("p"),
        F.count("*").alias("n")).collect()[0]
    assert 0 < row["p"] < row["n"]


def test_ops_nonempty(spark):
    """Guard against trivially-empty results hiding broken ops."""
    must_be_nonempty = ["pages_by_host", "dedup_exact", "token_counts",
                        "token_counts_bpe",
                        "doc_fingerprint", "lang_id", "quality_score",
                        "simhash", "dedup_simhash", "minhash_signatures",
                        "dedup_minhash_lsh", "ngram_jaccard",
                        "dedup_clusters", "ann_topk", "ann_ivf_topk",
                        "ann_lsh_buckets", "events_hourly", "sessionize",
                        "orders_by_nation", "top_spenders"]
    for name in must_be_nonempty:
        fn, _ = SQL_OPS[name]
        assert fn(spark, SF_DIR).limit(1).count() == 1, f"{name} is empty"


def test_lang_mix_weight_ppm_unit(spark, tmp_path):
    """weight_ppm is parts-per-million: a corpus whose actual language
    shares exactly equal the target mixture must weight every language
    at 1_000_000 (neither up- nor downsampled)."""
    from nreadability_spark.spark.ops import _MIX_TARGET, lang_mix_weights
    rows, doc_id = [], 0
    total = 20  # 20 docs at per-mille targets -> integral counts
    for lang, permille in _MIX_TARGET.items():
        for _ in range(permille * total // 1000):
            rows.append((doc_id, f"doc {doc_id}", lang))
            doc_id += 1
    assert doc_id == total
    (spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
     .write.mode("overwrite")
     .parquet(os.path.join(str(tmp_path), "documents.parquet")))
    out = lang_mix_weights(spark, str(tmp_path)).collect()
    assert len(out) == len(_MIX_TARGET)
    for r in out:
        assert r["weight_ppm"] == 1_000_000, r


def test_dedup_demo_dups_flag(spark):
    """demo_dups=False must cluster the documents table as-is: no
    injected variant ids (>= 1_000_000) anywhere, one cluster row per
    real doc — the jobs/build_corpus.py production path."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import _read, dedup_clusters
    clusters = dedup_clusters(spark, SF_DIR, demo_dups=False)
    n_docs = _read(spark, SF_DIR, "documents").count()
    agg = clusters.agg(F.count("*").alias("n"),
                       F.max("doc_id").alias("max_id")).collect()[0]
    assert agg["n"] == n_docs
    assert agg["max_id"] < 1_000_000


def test_bench_harness_names_exist():
    """bench.py is frozen: every name it imports from the package must
    still exist, and every operator its SQL_OPS loop times must still be
    registered (a deletion or rename would otherwise surface only when
    the harness runs)."""
    import ast
    import importlib
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "bench.py")) as f:
        tree = ast.parse(f.read())
    imported = [(node.module, alias.name) for node in ast.walk(tree)
                if isinstance(node, ast.ImportFrom)
                and (node.module or "").startswith("nreadability_spark")
                for alias in node.names]
    assert imported
    missing = [(m, n) for m, n in imported
               if not hasattr(importlib.import_module(m), n)]
    assert not missing, missing

    looped = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.For)
                and isinstance(node.target, ast.Name)
                and isinstance(node.iter, (ast.Tuple, ast.List))):
            continue
        var = node.target.id
        if any(isinstance(sub, ast.Subscript)
               and isinstance(sub.value, ast.Name)
               and sub.value.id == "SQL_OPS"
               and isinstance(sub.slice, ast.Name) and sub.slice.id == var
               for sub in ast.walk(node)):
            looped += [e.value for e in node.iter.elts]
    assert looped
    assert not set(looped) - set(SQL_OPS), set(looped) - set(SQL_OPS)


def test_dedup_lines_join_modes_agree(spark):
    """The broadcast/shuffle size-gate is a strategy choice only: both
    modes must produce identical reassembled corpora."""
    from nreadability_spark.spark.ops import dedup_lines
    bc = sorted(tuple(r) for r in dedup_lines(spark, SF_DIR).collect())
    sh = sorted(tuple(r) for r in
                dedup_lines(spark, SF_DIR, max_broadcast_rows=0).collect())
    assert bc == sh


def test_host_pagerank_discriminates_and_conserves(spark):
    """The rank vector must differentiate hosts (a uniform vector means
    the propagation never ran) and stay within the damped-mass bounds
    every true PageRank iteration preserves."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import _PR_BASE, host_pagerank
    pr = host_pagerank(spark, SF_DIR)
    row = pr.agg(F.countDistinct("pr").alias("d"),
                 F.min("pr").alias("lo"),
                 F.count("*").alias("n"),
                 F.sum("pr").alias("total")).collect()[0]
    assert row["d"] > 1
    assert row["lo"] >= _PR_BASE
    # total damped mass can't exceed the undamped total (floor() only
    # ever removes mass)
    assert row["total"] <= row["n"] * 1_000_000


def test_events_funnel_order_is_strict(spark):
    """Funnel depth must respect strict event ordering: every user with
    steps >= 2 has t2 > t1, steps = 3 implies t3 > t2, and a user whose
    only clicks precede their first view must not count as converted."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import events_funnel
    f = events_funnel(spark, SF_DIR)
    bad = f.where("(t2_us is not null and t2_us <= t1_us) or "
                  "(t3_us is not null and t3_us <= t2_us) or "
                  "(steps >= 2) != (t2_us is not null) or "
                  "(steps = 3) != (t3_us is not null)").count()
    assert bad == 0
    # sf0.001's dense synthetic events make every viewer convert; assert
    # the bounds rather than drop-off (CORRECTNESS compares exact values)
    dist = {r["steps"]: r["n"] for r in
            f.groupBy("steps").agg(F.count("*").alias("n")).collect()}
    assert dist and set(dist) <= {1, 2, 3} and 3 in dist


def test_pagerank_edges_huge_weights_no_int64_overflow(spark):
    """Real linkgraph weights are raw link-count sums; pr*w must not hit
    ANSI bigint overflow nor lose exactness through double division
    (ADVICE r4). With w ~ 1e13 and pr starting at 1e6 ppm the product
    passes 2^63 in round 1 — the decimal(38,0) path must stay exact."""
    from nreadability_spark.spark.ops import _PR_BASE, pagerank_edges
    w = 10_000_000_000_000  # 1e13
    edges = spark.createDataFrame(
        [(1, 2, 9 * w), (1, 3, w), (2, 1, w), (3, 1, w)],
        "src long, dst long, weight long")
    pr = {r["host"]: r["pr"] for r in pagerank_edges(edges).collect()}
    assert set(pr) == {1, 2, 3}
    # node 2 receives 9x node 3's share of node 1's rank each round:
    # exact floor arithmetic keeps the ordering strict, and every rank
    # holds the damped-base floor
    assert pr[2] > pr[3] >= _PR_BASE


def test_minhash_incremental_append_cycle(spark):
    """The per-batch ingest cycle: check the batch against the persisted
    index, then append its bands. A later query must see the appended
    batch through the same bucketed layout (no rebuild), yield no
    self-pairs, and reproduce the original pair set exactly."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import (_cut_lineage,
                                              _incremental_pairs,
                                              _minhash_bands,
                                              minhash_index_append,
                                              minhash_index_build,
                                              minhash_signatures)
    table = "t_inc_cycle"
    try:
        minhash_index_build(spark, SF_DIR, table=table)
        idx_rows = spark.table(table).count()
        batch = _cut_lineage(
            _minhash_bands(minhash_signatures(spark, SF_DIR))
            .where(F.col("doc_id") % 10 == 0))
        pairs1 = sorted(map(tuple,
                            _incremental_pairs(spark, batch, table=table)
                            .collect()))
        assert pairs1  # demo corpus guarantees batch-touching dups
        minhash_index_append(spark, batch, table=table)
        # appended bands are visible and the counts delta sums correctly
        assert spark.table(table).count() == idx_rows + batch.count()
        total_n = spark.table(f"{table}_counts") \
            .agg(F.sum("n").alias("s")).collect()[0]["s"]
        assert total_n == idx_rows + batch.count()
        # re-checking the same batch now ALSO matches it inside the
        # index: no self-pairs, and the pair set is unchanged (its
        # new-new pairs are found through the index instead)
        pairs2 = sorted(map(tuple,
                            _incremental_pairs(spark, batch, table=table)
                            .collect()))
        assert all(d1 != d2 for d1, d2 in pairs2)
        assert pairs2 == pairs1
    finally:
        spark.sql(f"drop table if exists {table}")
        spark.sql(f"drop table if exists {table}_counts")


def test_bpe_merges_matches_pure_python_reference(spark):
    """Independent oracle beyond the DuckDB window program: classic
    sequential BPE training (dict counting + left-to-right scan merge)
    in plain Python over the same corpus must produce the identical
    merge table — proving the window/island compilation implements real
    BPE, not merely the same SQL twice."""
    import re as _re
    from collections import Counter

    import pyarrow.parquet as pq
    from nreadability_spark.spark.ops import (_BPE_MERGE_ROUNDS, _BPE_PAT,
                                              bpe_merges)

    texts = pq.read_table(os.path.join(SF_DIR, "documents.parquet"),
                          columns=["text"])["text"].to_pylist()
    pat = _re.compile(_BPE_PAT)
    vocab = Counter()
    for t in texts:
        vocab.update(pat.findall((t or "").lower()))
    words = {w: (tuple(w), c) for w, c in vocab.items()}
    expected = []
    for rnd in range(1, _BPE_MERGE_ROUNDS + 1):
        pairs = Counter()
        for syms, c in words.values():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (a, b), c = min(pairs.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        expected.append((rnd, a, b, c))
        for key, (syms, cnt) in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[key] = (tuple(out), cnt)
    got = sorted(tuple(r) for r in bpe_merges(spark, SF_DIR).collect())
    assert got == sorted(expected)


def test_bpe_round_plan_one_pair_exchange(spark):
    """Each training round's pair count must be a map-side-partial
    aggregation with ONE pair-key exchange feeding a TakeOrdered top-1
    (a global sort of the pair table would be a scale regression)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import (_bpe_best_pair,
                                              _bpe_initial_syms,
                                              _cut_lineage)
    syms = _cut_lineage(_bpe_initial_syms(spark, SF_DIR))
    w = W.partitionBy("word").orderBy("pos")
    plan = _bpe_best_pair(syms, w)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "partial_sum" in plan
    # two exchanges total: the word-window's and the pair count's —
    # nothing else (no global Sort node outside the TakeOrdered)
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 2


def test_simhash_incremental_append_cycle(spark):
    """build -> check -> append -> recheck for the simhash band index:
    the appended batch is visible, no self-pairs appear, and the pair
    set (incl. hamming values) is stable."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import (_cut_lineage,
                                              _simhash_bands_of,
                                              simhash,
                                              simhash_index_append,
                                              simhash_index_build)
    table = "t_sim_inc_cycle"
    try:
        simhash_index_build(spark, SF_DIR, table=table)
        idx_rows = spark.table(table).count()
        batch = _cut_lineage(_simhash_bands_of(
            simhash(spark, SF_DIR).where(F.col("doc_id") % 10 == 0)))
        simhash_index_append(spark, batch, table=table)
        assert spark.table(table).count() == idx_rows + batch.count()
        total_n = spark.table(f"{table}_counts") \
            .agg(F.sum("n").alias("s")).collect()[0]["s"]
        assert total_n == idx_rows + batch.count()
        # the combined table now equals the full corpus band table:
        # distinct doc_ids match the full simhash output
        assert (spark.table(table).select("doc_id").distinct().count()
                == simhash(spark, SF_DIR).count())
    finally:
        spark.sql(f"drop table if exists {table}")
        spark.sql(f"drop table if exists {table}_counts")


# --- expression-form sketch references -------------------------------------
# The JVM expression stacks that the fused simhash/minhash kernels replaced:
# md5/conv hashes and interpreted aggregate/array_min folds, all in Spark
# SQL. They stay here as the reference the fused kernels are locked to.

def _simhash_base(corpus):
    """(doc_id, text) -> (doc_id, th): th the per-doc int64 token-hash
    array, for rows with at least one token."""
    from nreadability_spark.spark.ops import _H60, _TOKENS
    return corpus.where(r"text rlike '\\S'").selectExpr(
        "doc_id",
        f"transform({_TOKENS}, t -> {_H60.format(col='t')}) as th")


def _simhash_fold_expr(base):
    """60 interpreted ``aggregate`` majority folds per row."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import _SIMHASH_BITS
    bit_aggs = [
        f"aggregate(th, 0L, (acc, h) -> acc + (case when (h & {1 << b}) != 0"
        f" then 1 else -1 end)) as b{b}"
        for b in range(_SIMHASH_BITS)]
    bits = base.selectExpr("doc_id", *bit_aggs)
    sim = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else (sim + term)
    return bits.select(F.col("doc_id").cast("long").alias("doc_id"),
                       sim.cast("long").alias("simhash"))


def _minhash_base(corpus):
    """(doc_id, text) -> (doc_id, sha): sha the shingle-hash array, for
    rows with at least one 3-token shingle."""
    from nreadability_spark.spark.ops import (_H60, _SHINGLE_MOD,
                                              _SHINGLES_OF_TOKS, _TOKENS)
    return corpus.where(
        r"text rlike '\\S+\\s+\\S+\\s+\\S'"
    ).selectExpr("doc_id", f"{_TOKENS} as toks").selectExpr(
        "doc_id", f"{_SHINGLES_OF_TOKS} as sh_arr"
    ).selectExpr(
        "cast(doc_id as bigint) as doc_id",
        f"transform(sh_arr, s -> {_H60.format(col='s')} "
        f"% {_SHINGLE_MOD}) as sha")


def _minhash_fold_expr(base):
    """16 interpreted ``array_min(transform)`` permutations per row."""
    from nreadability_spark.spark.ops import _MINHASH_MOD, _N_MINHASH
    mins = [
        f"cast(array_min(transform(sha, x -> (x * {2 * i + 3} + {7 * i + 1})"
        f" % {_MINHASH_MOD})) as bigint) as m{i}"
        for i in range(_N_MINHASH)]
    return base.selectExpr("doc_id", *mins)


def test_fused_sketch_kernels_match_expression_forms(spark):
    """r7 A/B lock: the fused Python kernels (tokenize + cached md5 +
    numpy fold) must be byte-identical to the JVM expression forms they
    replaced, over the corpus AND over tokenizer edge cases (unicode
    whitespace/case, ASCII-only \\s split class, space-only trim)."""
    from nreadability_spark.spark.ops import (_corpus,
                                              _minhash_fused_arrow,
                                              _simhash_fused_arrow,
                                              minhash_signatures, simhash)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    corpus = _corpus(spark, SF_DIR)
    assert rows(minhash_signatures(spark, SF_DIR)) == rows(
        _minhash_fold_expr(_minhash_base(corpus)))
    assert rows(simhash(spark, SF_DIR)) == rows(
        _simhash_fold_expr(_simhash_base(corpus)))

    # tokenizer edge cases: NBSP/line-sep are NOT Java \s; vertical tab
    # is; trim strips only 0x20; unicode case mapping (final sigma,
    # dotted I, sharp s); numerals/punctuation; multi-space runs
    edge = [
        "a b c d",
        "  lead and trail  ",
        "\ttabs\tand\nnewlines\x0bvt\fff\rcr end",
        "nbsp\xa0joined stays one\xa0token x",
        "line\u2028sep is not ws here y z",
        "UPPER Case MiXeD lower case",
        "İstanbul DİCKENS straße tokens",
        "ΣΙΣΥΦΟΣ ΑΣ end x",
        "1 2 3 4.5 6,7 a-b c_d",
        " x  y   z    w ",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(edge)], "doc_id long, text string")
    # the fused kernels receive rows behind the same guards their
    # operators apply
    guarded = df.where(r"text rlike '\\S+\\s+\\S+\\s+\\S'")
    assert rows(_minhash_fused_arrow(guarded)) == rows(
        _minhash_fold_expr(_minhash_base(df)))
    guard_s = df.where(r"text rlike '\\S'")
    assert rows(_simhash_fused_arrow(guard_s)) == rows(
        _simhash_fold_expr(_simhash_base(df)))


def test_ops_udf_runs_from_outside_the_repo(tmp_path):
    """An ops operator with a Python UDF ships the package itself: from a
    driver working directory outside the repo the workers cannot import
    it from the cwd, and its fused minhash kernel unpickles by importing
    nreadability_spark."""
    import subprocess
    import sys
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from nreadability_spark.spark.ops import SQL_OPS\n"
        "from nreadability_spark.spark.session import get_spark\n"
        "spark = get_spark('ops-outside-repo', master='local[2]')\n"
        "fn = SQL_OPS['minhash_signatures'][0]\n"
        f"print('rows', len(fn(spark, {SF_DIR!r}).collect()))\n"
        "spark.stop()\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert int(proc.stdout.split("rows")[-1]) > 0
