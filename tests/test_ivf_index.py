"""IVF index at rest (operators/similarity.py::ivf_index_write/_topk).

The at-rest index must (1) return exactly the in-memory ivf_topk results
for the same centroids/nprobe, (2) actually PRUNE: the query's FileScan
carries a partition filter on cell and reads only the probed cells'
files, (3) round-trip its centroid sidecar, and (4) hash-match the
DuckDB oracle at the driver's gate scale — the same three-way check the
driver runs (tests/oracle.py replica).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.operators import similarity as S
from retail_aws_etl_pipeline_spark.plans.extensions import (
    ANN_K,
    ANN_PROBE_IDS,
    IVF_INDEXED_ORACLE,
    IVF_NPROBE,
    ann_topk_ivf_indexed,
)
from retail_aws_etl_pipeline_spark.session import load_tables
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def index(spark):
    emb = load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    path = tempfile.mkdtemp(prefix="ivf_index_test_")
    cents = S.ivf_index_write(emb, path)
    yield emb, path, cents
    shutil.rmtree(path, ignore_errors=True)


def test_centroid_sidecar_roundtrip(spark, index):
    _, path, cents = index
    assert S.ivf_index_centroids(spark, path) == cents


def test_indexed_matches_in_memory(spark, index):
    emb, path, cents = index
    probes = emb.filter(F.col("vec_id").isin(ANN_PROBE_IDS))
    got = S.ivf_index_topk(probes, path, ANN_K, nprobe=IVF_NPROBE)
    want = S.ivf_topk(emb, ANN_PROBE_IDS, ANN_K, centroids=cents, nprobe=IVF_NPROBE)
    key = lambda r: (r["probe_id"], r["rank"])  # noqa: E731
    g = sorted(((r["probe_id"], r["rank"], r["vec_id"], r["dot_q"]) for r in got.collect()))
    w = sorted(((r["probe_id"], r["rank"], r["vec_id"], r["dot_q"]) for r in want.collect()))
    assert g == w and len(g) > 0


def test_scan_is_partition_pruned(spark, index):
    emb, path, cents = index
    probes = emb.filter(F.col("vec_id").isin(ANN_PROBE_IDS))
    df = S.ivf_index_topk(probes, path, ANN_K, nprobe=IVF_NPROBE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell" in ln for ln in scan_lines), plan[:2000]

    # and the pruned read really skips cells: the index frame restricted
    # the way the operator restricts it must touch fewer files than the
    # full index (n_cells=8, 5 probes x nprobe=2 -> at most 8, typically
    # fewer; assert strict subset to keep the gate robust).
    p = (
        S.with_quantized(probes)
        .select(F.explode(S.ranked_centroids("qvec", cents, IVF_NPROBE)).alias("cell"))
        .distinct()
        .collect()
    )
    cells = [r["cell"] for r in p]
    # inputFiles() reports the RELATION's files pre-pruning; the files a
    # pruned scan actually reads are observable via input_file_name() —
    # only probed-cell directories may appear.
    pruned = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    read_files = [
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    ]
    assert read_files, "pruned scan read nothing"
    assert all(any(f"cell={c}/" in f for c in cells) for f in read_files), read_files
    if len(cells) < len(cents):
        full = spark.read.parquet(path)
        n_all = len(
            full.select(F.input_file_name()).distinct().collect()
        )
        assert len(read_files) < n_all


def test_probe_cells_bounded(spark, index):
    emb, path, _ = index
    probes = emb.filter(F.col("vec_id").isin(ANN_PROBE_IDS))
    # contract: the driver-side collect in ivf_index_topk is bounded by
    # |probes| x nprobe
    n = (
        S.with_quantized(probes)
        .select(F.explode(S.ranked_centroids("qvec", S.ivf_index_centroids(spark, path), IVF_NPROBE)))
        .count()
    )
    assert n <= len(ANN_PROBE_IDS) * IVF_NPROBE


def test_indexed_oracle_driver_scale(spark):
    """Driver-gate replica at sf0.01 — the oracle's centroid literals are
    fit from the sf0.01 parquet (the driver's gate scale), so the compare
    runs there, exactly like tests/test_queries_oracle.py does for
    ann_topk_ivf."""
    from tests.oracle import compare

    sf = "/root/testdata/sf0.01"
    r = compare(ann_topk_ivf_indexed(spark, sf), IVF_INDEXED_ORACLE, sf)
    assert r["ok"], r


def test_indexed_query_reuses_standing_index(spark):
    """The registered query's index cache: two calls against the same
    corpus reuse ONE at-rest index (same dir, marker untouched) and
    return identical results; different corpora key different dirs.
    The cache key includes mtime+size, so a changed corpus rebuilds."""
    import glob
    import os

    from retail_aws_etl_pipeline_spark.plans.extensions import (
        ann_topk_ivf_indexed,
        ivf_standing_index_dir,
    )

    # Shared derivation (ADVICE r12): the key used to be hand-duplicated
    # here, so a new key field would silently desynchronize this test.
    def full_key(sf):
        return ivf_standing_index_dir(sf)[2]

    def index_dir(sf):
        return ivf_standing_index_dir(sf)[0]

    sf = "/root/testdata/sf0.001"
    first = ann_topk_ivf_indexed(spark, sf).collect()
    d = index_dir(sf)
    marker = os.path.join(d, "_GRAFT_COMPLETE")
    assert os.path.exists(marker)
    built_at = os.path.getmtime(marker)
    files_before = sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    data_mtimes = {
        f: os.path.getmtime(f) for f in files_before if f != marker
    }
    second = ann_topk_ivf_indexed(spark, sf).collect()
    assert second == first
    # no rebuild: same file set, data files untouched; the MARKER mtime
    # advances on a cache hit (ADVICE r12: GC staleness must mean
    # time-since-last-use, else a hot week-old index gets collected by
    # any sibling build).
    assert sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)) == files_before
    assert {f: os.path.getmtime(f) for f in data_mtimes} == data_mtimes
    assert os.path.getmtime(marker) >= built_at
    # a different corpus keys a different standing index
    assert index_dir("/root/testdata/sf0.01") != d
    # the marker stores the FULL key (format version included); a stale
    # marker — e.g. a dir left by an older index format that hashed to
    # the same name — is rejected on read and triggers a rebuild
    # (ADVICE r11: the cache key must cover build parameters, not just
    # the input file).
    assert open(marker).read() == full_key(sf)
    with open(marker, "w") as f:
        f.write("stale-format-key")
    third = ann_topk_ivf_indexed(spark, sf).collect()
    assert third == first
    assert open(marker).read() == full_key(sf)  # rebuilt + re-marked


def test_stale_index_dirs_are_gcd_on_build():
    """Build-path GC (ADVICE r11, accumulation half): sibling
    graft_ivf_index_* dirs with no completion marker are removed
    immediately; completed dirs are removed once their marker outlives
    IVF_INDEX_GC_SECONDS; fresh completed dirs and the just-built index
    survive."""
    import os
    import tempfile
    import time

    from retail_aws_etl_pipeline_spark.plans.extensions import (
        IVF_INDEX_GC_SECONDS,
        _gc_stale_ivf_indexes,
    )

    tmp = tempfile.gettempdir()

    def mk(name, marker, old=False):
        d = os.path.join(tmp, name)
        os.makedirs(d, exist_ok=True)
        if marker:
            m = os.path.join(d, "_GRAFT_COMPLETE")
            with open(m, "w") as f:
                f.write("k")
            if old:
                past = time.time() - IVF_INDEX_GC_SECONDS - 60
                os.utime(m, (past, past))
        return d

    keep = mk("graft_ivf_index_gctest_keep", marker=True)
    fresh = mk("graft_ivf_index_gctest_fresh", marker=True)
    aged = mk("graft_ivf_index_gctest_aged", marker=True, old=True)
    interrupted = mk("graft_ivf_index_gctest_interrupted", marker=False)
    scratch = mk("ivf_index_build_gctest", marker=False)  # other prefix
    try:
        _gc_stale_ivf_indexes(keep=keep)
        assert os.path.isdir(keep)
        assert os.path.isdir(fresh)  # completed + young: stays
        assert not os.path.exists(aged)  # completed + old: GC'd
        assert not os.path.exists(interrupted)  # marker-less: GC'd
        assert os.path.isdir(scratch)  # different prefix: untouched
    finally:
        import shutil

        for d in (keep, fresh, aged, interrupted, scratch):
            shutil.rmtree(d, ignore_errors=True)


def test_install_race_loser_keeps_winners_live_index(spark, monkeypatch):
    """ADVICE r12: the install protocol must never pre-delete the
    target. Simulate LOSING the cold-start race: the marker is invalid
    when this builder checks it, and a concurrent winner installs a
    complete index while this builder is mid-fit. The loser's rename
    fails; the winner's dir must survive untouched (same inode — no
    rmtree+rename window where a reader would get FileNotFound) and the
    loser's scratch build must be discarded."""
    import glob
    import os

    import retail_aws_etl_pipeline_spark.plans.extensions as E

    sf = "/root/testdata/sf0.001"
    first = E.ann_topk_ivf_indexed(spark, sf).collect()
    d, marker, _full_key = E.ivf_standing_index_dir(sf)
    valid = open(marker).read()
    with open(marker, "w") as f:
        f.write("stale-loser-view")  # this builder will take the cold path
    inode_before = os.stat(d).st_ino

    real_fit = E.S.ivf_centroids_from_parquet

    def winner_completes_then_fit(*a, **k):
        # the concurrent winner finishes its install mid-way through
        # this builder's centroid fit
        with open(marker, "w") as f:
            f.write(valid)
        return real_fit(*a, **k)

    monkeypatch.setattr(E.S, "ivf_centroids_from_parquet", winner_completes_then_fit)
    out = E.ann_topk_ivf_indexed(spark, sf).collect()
    assert out == first
    assert os.stat(d).st_ino == inode_before  # winner's dir never replaced
    assert open(marker).read() == valid
    # the loser's scratch build was cleaned up
    import tempfile

    leftovers = [
        b
        for b in glob.glob(os.path.join(tempfile.gettempdir(), "ivf_index_build_*"))
        if "gctest" not in b
    ]
    assert not leftovers, leftovers
