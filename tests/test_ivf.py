"""IVF ANN: recall against the exact brute-force top-k.

No SQL oracle is possible (iterative training), so correctness is a recall
bound: probing a quarter of the cells must recover most of the true top-10.
"""

from __future__ import annotations

from lyft_presto_spark.operators.ivf import build_ivf_index, ivf_topk
from lyft_presto_spark.queries import all_queries
from lyft_presto_spark.session import load_table


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    query_vec = emb.filter("vec_id = 0").collect()[0]["embedding"]

    assigned, centroids = build_ivf_index(emb.filter("vec_id <> 0"), k=16)
    assert assigned.select("cell").distinct().count() > 1

    exact = {
        r["vec_id"]
        for r in all_queries()["sim_topk_bruteforce"].spark(spark, sf_dir).collect()
    }

    def recall(nprobe: int) -> int:
        approx = {
            r["vec_id"]
            for r in ivf_topk(assigned, centroids, list(query_vec), top_k=10, nprobe=nprobe).collect()
        }
        return len(approx & exact)

    # Mechanism correctness: probing every cell IS brute force; partial
    # probes recover a nondecreasing share (absolute recall at low nprobe is
    # a property of how clustered the data is, not of the index).
    r4, r8, r16 = recall(4), recall(8), recall(16)
    assert r16 == 10
    assert r4 <= r8 <= r16
    assert r8 >= 3


def test_persisted_ivf_probe_partition_prunes(spark, sf_dir, tmp_path):
    """The persisted index is a cell-partitioned table; a probe must reach it
    as a partition filter (pruned I/O ~nprobe/k of the data), not a post-scan
    filter."""
    from lyft_presto_spark.operators.ivf import ivf_topk, read_ivf_index, write_ivf_index
    from lyft_presto_spark.plans.inspect import formatted_plan

    emb = load_table(spark, sf_dir, "embeddings")
    query_vec = list(emb.filter("vec_id = 0").collect()[0]["embedding"])
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb.filter("vec_id <> 0"), path, k=16)

    assigned, centroids = read_ivf_index(spark, path)
    probed = ivf_topk(assigned, centroids, query_vec, top_k=10, nprobe=4)
    plan = formatted_plan(probed)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]

    # Persisted probe agrees with the in-memory index path.
    mem_assigned, mem_centroids = build_ivf_index(emb.filter("vec_id <> 0"), k=16)
    mem = ivf_topk(mem_assigned, mem_centroids, query_vec, top_k=10, nprobe=4)
    assert {r["vec_id"] for r in probed.collect()} == {r["vec_id"] for r in mem.collect()}


def test_ivf_probes_subset(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    query_vec = emb.filter("vec_id = 0").collect()[0]["embedding"]
    assigned, centroids = build_ivf_index(emb, k=16)
    probed = ivf_topk(assigned, centroids, list(query_vec), top_k=50, nprobe=2)
    cells = {r["cell"] for r in probed.collect()}
    assert len(cells) <= 2


def test_ivf_index_rebuilds_when_embeddings_change(spark, sf_dir, tmp_path, monkeypatch):
    """sim_topk_ivf builds its KMeans index once and reuses it, but a
    regenerated embeddings.parquet at the same path must get a new index.
    The index path used to be keyed by the sf_dir string, so the stale
    index kept being served."""
    import os

    import duckdb

    from lyft_presto_spark import session
    from lyft_presto_spark.operators import ivf
    from lyft_presto_spark.queries import similarity_queries as SQ

    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(tmp_path / "staging"))
    monkeypatch.setattr(SQ, "_IVF_CELLS", 4)
    # The session's table memo assumes immutable fixtures; this scale dir
    # is rewritten, so read it fresh on every call.
    monkeypatch.setattr(
        session, "load_table", lambda s, d, name: s.read.parquet(session.table_path(d, name))
    )
    trained_on = []
    write_ivf_index = ivf.write_ivf_index

    def counting_write(emb, path, k=16):
        trained_on.append({r.vec_id for r in emb.select("vec_id").collect()})
        return write_ivf_index(emb, path, k=k)

    monkeypatch.setattr(ivf, "write_ivf_index", counting_write)
    src, data = os.path.join(sf_dir, "embeddings.parquet"), tmp_path / "sf"
    data.mkdir()

    def write_embeddings(n: int) -> None:
        duckdb.sql(
            f"COPY (SELECT * FROM read_parquet('{src}') WHERE vec_id < {n}) "
            f"TO '{data / 'embeddings.parquet'}' (FORMAT PARQUET)"
        )

    write_embeddings(200)
    SQ.sim_topk_ivf(spark, str(data))
    SQ.sim_topk_ivf(spark, str(data))
    assert trained_on == [set(range(1, 200))]  # second call reused the index
    write_embeddings(120)
    SQ.sim_topk_ivf(spark, str(data))
    assert len(trained_on) == 2, "a regenerated embeddings.parquet got the stale index"
    assert trained_on[1] == set(range(1, 120))
