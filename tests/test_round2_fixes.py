"""Round-2 fix regression tests (VERDICT.md / ADVICE.md items):

- multi-dense-group blocks keep node metadata (was: silently dropped)
- header osmosis replication fields surfaced (osmformat.proto:57-78)
- changeset groups counted, never invisible (osmformat.proto:116-122)
- simhash band blocking recall-complete for any radius (was: 4×16-bit
  bands silently dropped pairs at hamming 4..16)
- broadcast-array kNN top-k ≡ brute force (the scalable q20 plan)
- broadcast-array embedding dup scan ≡ exact quadratic (the q33 plan)
  for string/int ids and any prefilter slice size
- manifest commit lock: concurrent committers lose nothing
"""

import os
import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_read_enhanced_spark.sources.pbf import (
    decode_blob,
    decode_header_block,
    scan_blocks,
    write_pbf,
)
from osm_read_enhanced_spark.sources.pbf.blocks import read_block_payload
from osm_read_enhanced_spark.sources.pbf.columnar import decode_block_arrow
from osm_read_enhanced_spark.sources.pbf.decode import count_block_elements
from osm_read_enhanced_spark.sources.pbf.writer import build_primitive_block


def _data_payloads(path):
    return [
        decode_blob(read_block_payload(b))
        for b in scan_blocks(path)
        if b.block_type == "OSMData"
    ]


def _node_columns(payload):
    (nodes,) = decode_block_arrow(payload, 1, kinds=("node",))
    return nodes.to_pydict()


def test_multi_dense_group_keeps_info(tmp_path):
    path = str(tmp_path / "multi.pbf")
    nodes = [
        dict(
            id=100 + i,
            lat=10.0 + i * 0.001,
            lon=20.0,
            tags={"n": str(i)},
            version=i + 1,
            timestamp_ms=1_600_000_000_000 + i * 1000,
            changeset=50 + i,
            uid=7,
            user=f"u{i}",
        )
        for i in range(5)
    ]
    write_pbf(path, [dict(nodes=nodes, dense_group_size=2)])  # 3 dense groups
    nodes = _node_columns(_data_payloads(path)[0])
    assert nodes["id"] == [100, 101, 102, 103, 104]
    # the fix: info must survive the multi-group merge, row-aligned
    assert nodes["version"] == [1, 2, 3, 4, 5]
    assert nodes["timestamp"] == [1_600_000_000_000 + i * 1000 for i in range(5)]
    assert nodes["user"] == [f"u{i}" for i in range(5)]
    assert [dict(t).get("n") for t in nodes["tags"]] == ["0", "1", "2", "3", "4"]


def test_multi_group_partial_info_null_padded(tmp_path):
    # group 1 carries DenseInfo, group 2 does not → nulls, not misalignment
    path = str(tmp_path / "partial.pbf")
    with_info = [
        dict(id=1, lat=1.0, lon=1.0, tags={}, version=9, timestamp_ms=1000, changeset=1, uid=1, user="a")
    ]
    without = [dict(id=2, lat=2.0, lon=2.0, tags={})]
    from osm_read_enhanced_spark.sources.pbf.writer import _frame_block, build_header_block

    p1 = build_primitive_block(with_info, (), (), 100, 0, 0, 1000)
    # craft one block holding both groups by concatenating two single-group
    # blocks' group payloads: simpler — write two groups via dense_group_size
    # over a mixed list where only the first node has version
    mixed = with_info + without
    payload = build_primitive_block(mixed, (), (), 100, 0, 0, 1000, dense_group_size=1)
    nodes = _node_columns(payload)
    assert nodes["id"] == [1, 2]
    assert nodes["version"] == [9, None]
    assert nodes["user"] == ["a", None]
    del p1  # (first block unused beyond exercising the builder)


def test_header_replication_fields(tmp_path):
    path = str(tmp_path / "repl.pbf")
    write_pbf(
        path,
        [dict(nodes=[dict(id=1, lat=0.5, lon=0.5, tags={})])],
        header_kwargs=dict(
            replication_timestamp=1_700_000_000,
            replication_sequence=4242,
            replication_base_url="https://planet.osm.org/replication/minute/",
        ),
    )
    hdr_block = next(b for b in scan_blocks(path) if b.block_type == "OSMHeader")
    hdr = decode_header_block(decode_blob(read_block_payload(hdr_block)))
    assert hdr["osmosis_replication_timestamp"] == 1_700_000_000
    assert hdr["osmosis_replication_sequence_number"] == 4242
    assert hdr["osmosis_replication_base_url"] == "https://planet.osm.org/replication/minute/"


def test_changesets_counted(tmp_path, spark):
    path = str(tmp_path / "cs.pbf")
    write_pbf(
        path,
        [
            dict(
                nodes=[dict(id=i, lat=0.1 * i, lon=0.2, tags={}) for i in range(1, 4)],
                changeset_ids=(11, 12),
            )
        ],
    )
    payload = _data_payloads(path)[0]
    assert count_block_elements(payload) == (3, 0, 0, 2)
    from osm_read_enhanced_spark.sources.pbf.reader import count_elements

    row = count_elements(spark, path).collect()[0]
    assert (row.n_nodes, row.n_ways, row.n_relations, row.n_changesets) == (3, 0, 0, 2)


# ------------------------------------------------------------- simhash


def test_simhash_adversarial_hamming10(spark):
    """A pair at hamming 10 that disagrees in EVERY 16-bit quarter (the
    old fixed 4-band scheme finds nothing) must be found by the derived
    11-band scheme."""
    from osm_read_enhanced_spark.operators.dedup import pairs_within_hamming

    a = 0
    # 10 bits spread so all four 16-bit bands differ (≥2 bits each)
    bits = [0, 5, 16, 21, 32, 37, 48, 53, 58, 63]
    b = 0
    for bit in bits:
        b |= 1 << bit
    sh = spark.createDataFrame(
        [(1, a), (2, np.int64(np.uint64(b)).item())], "doc_id long, simhash long"
    )
    out = pairs_within_hamming(sh, max_hamming=10).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in out] == [(1, 2, 10)]
    # the old scheme (4 bands) provably misses it: every 16-bit band differs
    for band in range(4):
        assert (a >> (16 * band)) & 0xFFFF != (b >> (16 * band)) & 0xFFFF


def test_simhash_recall_complete_vs_bruteforce(spark):
    """Property: pairs_within_hamming(r) returns EXACTLY the pairs at
    hamming ≤ r (numpy bruteforce ground truth), random 64-bit hashes."""
    from osm_read_enhanced_spark.functions.text import hamming64
    from osm_read_enhanced_spark.operators.dedup import pairs_within_hamming

    rng = np.random.default_rng(7)
    n = 60
    # cluster hashes around 3 seeds so small-radius pairs exist
    seeds = rng.integers(0, 2**63, 3, dtype=np.int64)
    hashes = []
    for i in range(n):
        base = seeds[i % 3]
        flip = rng.choice(64, size=rng.integers(0, 8), replace=False)
        h = np.uint64(base)
        for f in flip:
            h ^= np.uint64(1) << np.uint64(f)
        hashes.append(np.int64(h))
    expected = set()
    for i in range(n):
        for j in range(i + 1, n):
            if hamming64(np.array([hashes[i]]), np.array([hashes[j]]))[0] <= 7:
                expected.add((i, j))
    sh = spark.createDataFrame(
        [(i, int(hashes[i])) for i in range(n)], "doc_id long, simhash long"
    )
    got = {
        (r.id_a, r.id_b)
        for r in pairs_within_hamming(sh, max_hamming=7).collect()
    }
    assert got == expected


# ------------------------------------------------------------- kNN / ANN plans


def test_knn_topk_broadcast_matches_bruteforce(spark):
    from osm_read_enhanced_spark.operators.knn import knn_bruteforce, knn_topk_broadcast

    rng = np.random.default_rng(3)
    n, m = 80, 25
    left = spark.createDataFrame(
        [
            (int(i), float(rng.uniform(-80, 80)), float(rng.uniform(-170, 170)))
            for i in range(n)
        ],
        "point_id long, lat double, lon double",
    )
    right = spark.createDataFrame(
        [
            (int(j), float(rng.uniform(-80, 80)), float(rng.uniform(-170, 170)))
            for j in range(m)
        ],
        "neighbor_id long, lat double, lon double",
    )
    a = knn_topk_broadcast(left, right, k=4, exclude_self=False).orderBy(
        "point_id", "rank"
    ).collect()
    b = knn_bruteforce(left, right, k=4, exclude_self=False).orderBy(
        "point_id", "rank"
    ).collect()
    assert [(r.point_id, r.neighbor_id, r.rank) for r in a] == [
        (r.point_id, r.neighbor_id, r.rank) for r in b
    ]
    assert np.allclose([r.dist_m for r in a], [r.dist_m for r in b])


def _planted_dup_vectors(dups=((3, 7),)):
    """50 random 16-d vectors with planted near-dups (row b copies row a
    for each (a, b) in ``dups``) → the matrix and its numpy truth
    {(i, j): cosine} for i < j at τ = 0.8."""
    rng = np.random.default_rng(11)
    n, d = 50, 16
    M = rng.normal(size=(n, d))
    for a, b in dups:
        M[b] = M[a] + rng.normal(scale=0.05, size=d)
    M[20] = M[20] / np.linalg.norm(M[20])
    norm = np.linalg.norm(M, axis=1)
    C = (M @ M.T) / np.outer(norm, norm)
    expected = {
        (i, j): C[i, j]
        for i in range(n)
        for j in range(i + 1, n)
        if C[i, j] >= 0.8
    }
    return M, expected


def test_embedding_dup_broadcast_matches_numpy(spark):
    from osm_read_enhanced_spark.operators.dedup import embedding_dup_pairs_broadcast

    M, expected = _planted_dup_vectors()
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in M[i]]) for i in range(len(M))],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_dup_pairs_broadcast(df, threshold=0.8, round_to=6).collect()
    }
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-5
    assert (3, 7) in got


@pytest.mark.parametrize(
    "id_type, key",
    [
        # lexicographic order differs from row order ("10" < "7")
        ("string", lambda i: str(i)),
        # descending ids: the pair order follows the id, not the row
        ("int", lambda i: 1000 - 3 * i),
    ],
    ids=["string", "int"],
)
def test_embedding_dup_exact_non_long_ids(spark, id_type, key):
    """q33's dispatcher on a small table (the broadcast leg) keeps the
    id column's own type: string and int ids pair as long ids do,
    ordered id_a < id_b by the id's own ordering."""
    from osm_read_enhanced_spark.operators.dedup import embedding_dup_pairs_exact

    M, expected = _planted_dup_vectors()
    df = spark.createDataFrame(
        [(key(i), [float(x) for x in M[i]]) for i in range(len(M))],
        f"vec_id {id_type}, embedding array<double>",
    )
    want = {
        (min(key(i), key(j)), max(key(i), key(j))): c for (i, j), c in expected.items()
    }
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_dup_pairs_exact(df, threshold=0.8, round_to=6).collect()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-5


@pytest.mark.parametrize("rows", [1, 7, 51])
def test_embedding_dup_broadcast_slice_sizes(spark, monkeypatch, rows):
    """The prefilter scores each Arrow batch in row slices of
    ``_DUP_SLICE_ROWS``; the pairs do not depend on the slice size
    (51 is larger than the whole 50-row batch)."""
    from osm_read_enhanced_spark.operators import dedup

    monkeypatch.setattr(dedup, "_DUP_SLICE_ROWS", rows)
    # near-dup pairs (i, 49 - i) put a pair in every slice
    M, expected = _planted_dup_vectors([(i, 49 - i) for i in range(25)])
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in M[i]]) for i in range(len(M))],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    got = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_dup_pairs_broadcast(df, threshold=0.8).collect()
    }
    assert got == set(expected)


# ------------------------------------------------------------- manifest lock


def test_manifest_concurrent_commits(spark, tmp_path):
    """Two writers committing different partitions concurrently must both
    land in the manifest (read-modify-write is serialized by the lock)."""
    from osm_read_enhanced_spark.sources.iceberg_lite import (
        committed_partition_ids,
        read_manifest,
        write_partition,
    )

    table = str(tmp_path / "tbl")
    dfs = {
        pid: spark.createDataFrame([(pid, i) for i in range(10)], "p string, v long")
        for pid in ("a", "b", "c", "d")
    }
    errs = []

    def commit(pid):
        try:
            write_partition(dfs[pid], table, pid)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=commit, args=(pid,)) for pid in dfs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert committed_partition_ids(table) == ["a", "b", "c", "d"]
    assert len(read_manifest(table)["snapshots"]) == 4


def test_manifest_dead_holder_lock_inert(spark, tmp_path):
    """A lock file left behind by a killed committer must not wedge
    resume. Under flock the dead holder's kernel lock died with the
    process, so the leftover file is inert and the commit proceeds —
    no staleness heuristic, hence no stale-break race."""
    import os
    import time as _time

    from osm_read_enhanced_spark.sources import iceberg_lite as il

    table = str(tmp_path / "tbl")
    os.makedirs(table, exist_ok=True)
    lock = il._manifest_path(table) + ".lock"
    with open(lock, "w") as f:
        f.write("dead-holder")
    old = _time.time() - 3600
    os.utime(lock, (old, old))
    df = spark.createDataFrame([(1,), (2,)], "v long")
    rec = il.write_partition(df, table, "p0")
    assert rec["row_count"] == 2
    assert il.committed_partition_ids(table) == ["p0"]


def test_manifest_lock_blocks_live_holder(tmp_path):
    """While one process/context holds the manifest lock, a second
    acquisition times out instead of silently proceeding."""
    import pytest

    from osm_read_enhanced_spark.sources import iceberg_lite as il

    table = str(tmp_path / "tbl")
    os.makedirs(table, exist_ok=True)
    with il._manifest_lock(table):
        with pytest.raises(TimeoutError):
            with il._manifest_lock(table, timeout_s=0.3):
                pass
    # released → immediate re-acquire succeeds
    with il._manifest_lock(table, timeout_s=0.3):
        pass
