"""Sequence-packing tests: kernel ≡ relational frame equality, token
conservation, giant-doc multi-example spans, epoch-seed behavior, the
encode_df integration, and a DuckDB differential of the oracle SQL."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from rle_array_spark import packing as PK
from rle_array_spark.engine import decode_stats_df, encode_df

L = 64  # small example length so every path (spans, tails, pieces) is hit


def _collect(packed):
    return sorted(
        (r["shard"], r["example_id"], r["n_pieces"], tuple(r["tokens"]))
        for r in packed.collect()
    )


@pytest.fixture(scope="module")
def corpus(spark):
    """120 docs, lengths 1..~180 (around and across L), 4 sources."""
    rng = np.random.default_rng(7)
    rows = []
    for i in range(120):
        n = int(rng.integers(1, 181))
        toks = rng.integers(0, 50_000, size=n).astype(np.int32).tolist()
        rows.append((f"d{i:04d}", toks, n, f"s{i % 4}"))
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )


def test_kernel_matches_relational(corpus):
    rel = _collect(PK.pack_examples(corpus, seq_len=L, n_shards=4))
    ker = _collect(PK.pack_examples_kernel(corpus, seq_len=L, n_shards=4))
    assert rel == ker
    assert len(rel) > 20


def test_conservation_and_shapes(corpus):
    packed = PK.pack_examples_kernel(corpus, seq_len=L, n_shards=4)
    rows = packed.collect()
    assert all(len(r["tokens"]) == L for r in rows)
    # per-shard example count is exactly floor(shard tokens / L), and the
    # packed token multiset sum + dropped tail == corpus sum per shard
    keyed = PK._keyed(corpus, n_shards=4, seed=PK.PACK_SEED)
    shard_tot = {
        r["shard"]: (r["n"], r["s"])
        for r in keyed.groupBy("shard")
        .agg(
            F.sum("n_tok").alias("n"),
            F.sum(F.expr("aggregate(tokens, 0L, (a, x) -> a + x)")).alias("s"),
        )
        .collect()
    }
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for sh, (n_tok, _) in shard_tot.items():
        got = len(by_shard.get(sh, []))
        assert got == n_tok // L, (sh, got, n_tok)
    packed_sum = sum(sum(r["tokens"]) for r in rows)
    total_sum = sum(s for _, s in shard_tot.values())
    # dropped tails are the only difference, each shorter than L
    assert packed_sum <= total_sum
    # example ids are dense 0..n-1 per shard
    for sh, lst in by_shard.items():
        assert sorted(r["example_id"] for r in lst) == list(range(len(lst)))


def test_giant_doc_spans_many_examples(spark):
    """One 10·L+37-token doc among minnows: pieces bookkeeping and the
    kernel's reshape fast path must agree with the relational slice math."""
    rng = np.random.default_rng(11)
    rows = [
        ("giant", rng.integers(0, 99, size=10 * L + 37).astype(np.int32).tolist(),
         10 * L + 37, "g"),
    ]
    for i in range(30):
        n = int(rng.integers(1, 20))
        rows.append(
            (f"m{i:03d}", rng.integers(100, 200, size=n).astype(np.int32).tolist(),
             n, "m")
        )
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    rel = _collect(PK.pack_examples(df, seq_len=L, n_shards=2))
    ker = _collect(PK.pack_examples_kernel(df, seq_len=L, n_shards=2))
    assert rel == ker
    # examples fully inside the giant doc have exactly one piece
    solo = [r for r in rel if r[2] == 1]
    assert len(solo) >= 8


def test_epoch_seed_changes_order_not_content(corpus):
    a = PK.pack_examples_kernel(corpus, seq_len=L, n_shards=4, seed=1)
    b = PK.pack_examples_kernel(corpus, seq_len=L, n_shards=4, seed=2)
    ra, rb = _collect(a), _collect(b)
    assert ra != rb  # different epoch permutation
    # but both conserve: same per-shard-total-independent global count bound
    tot = corpus.agg(F.sum("n_tok")).collect()[0][0]
    for r in (ra, rb):
        assert 0 < len(r) * L <= tot


def test_epoch_contract_of_pack_examples(spark):
    """The ``jobs pack --seed`` contract on the production path: over docs
    whose lengths are multiples of seq_len, three seeds give three
    distinct example orders of one example multiset, and a seed repeats
    its order exactly."""
    rows = [
        (f"e{i:02d}", [i * 10 + j % 3 for j in range((1 + i % 2) * 8)], (1 + i % 2) * 8, "s")
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")

    def epoch(seed):
        packed = PK.pack_examples(df, seq_len=8, n_shards=2, seed=seed).collect()
        return [tuple(r["tokens"]) for r in sorted(packed, key=lambda r: (r["shard"], r["example_id"]))]

    orders = [epoch(seed) for seed in (1, 2, 3)]
    assert len({tuple(o) for o in orders}) == 3
    assert sorted(orders[0]) == sorted(orders[1]) == sorted(orders[2])
    assert len(orders[0]) == 36
    assert epoch(2) == orders[1]


def test_packed_feeds_encoder_bit_identical(corpus):
    packed = PK.pack_examples_kernel(corpus, seq_len=L, n_shards=4)
    as_seq = packed.select(
        F.concat_ws(":", "shard", "example_id").alias("doc_id"),
        "tokens",
        F.size("tokens").alias("n_tok"),
        F.lit("packed").alias("source"),
    )
    stats = {
        r["doc_id"]: (r["n_tok"], r["tok_sum"], r["tok_wsum"])
        for r in decode_stats_df(encode_df(as_seq, codec="auto")).collect()
    }
    direct = {
        f"{r['shard']}:{r['example_id']}": (
            len(r["tokens"]),
            sum(r["tokens"]),
            sum(t * i for i, t in enumerate(r["tokens"], start=1)),
        )
        for r in packed.collect()
    }
    assert stats == direct and len(stats) > 20


def test_oracle_sql_differential(corpus):
    """The committed oracle SELECT reproduces the Spark packing stats on an
    arbitrary corpus (not just the driver's documents table)."""
    pdf = corpus.select("doc_id", "tokens").toPandas()
    con = duckdb.connect()
    con.register("seqs", pdf)
    sql = (
        "WITH tok AS (SELECT doc_id, tokens FROM seqs), "
        + PK.pack_oracle_select(("pack",), seq_len=L, n_shards=4)
    )
    orows = sorted(
        tuple(str(x) for x in row) for row in con.execute(sql).fetchall()
    )
    srows = sorted(
        tuple(str(x) for x in row)
        for row in PK.pack_stats(
            PK.pack_examples(corpus, seq_len=L, n_shards=4), "pack"
        ).collect()
    )
    assert srows == orows and len(srows) > 20


def test_corrupt_n_tok_metadata_cannot_shear_paths(spark):
    """Both implementations must measure doc length from the tokens array
    itself (kernel: Arrow offsets; relational: size(tokens)), so a row
    whose n_tok metadata lies still packs identically on both paths and
    by actual-array-length semantics."""
    rows = [
        ("a", [1, 2, 3, 4, 5], 3, "s"),     # n_tok under-reports
        ("b", [6, 7], 9, "s"),              # n_tok over-reports
        ("c", [8] * 7, 7, "s"),
        ("d", [], 5, "s"),                  # empty array, lying n_tok
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    rel = _collect(PK.pack_examples(df, seq_len=4, n_shards=2))
    ker = _collect(PK.pack_examples_kernel(df, seq_len=4, n_shards=2))
    assert rel == ker
    total_actual = sum(len(r[1]) for r in rows)
    packed = sum(len(r[3]) for r in rel)
    assert packed == sum(
        4 * (n // 4)
        for n in [
            sum(
                len(r[1])
                for r in rows
                if len(r[1])
                and int(
                    __import__("hashlib")
                    .md5(f"{r[0]}:1".encode())
                    .hexdigest()[:15],
                    16,
                )
                % 2
                == sh
            )
            for sh in (0, 1)
        ]
    )
    assert packed <= total_actual


def test_partitioning_invariance(corpus):
    """Packed output is a pure function of corpus content: reshuffling the
    input into different partition counts/layouts changes nothing in
    either implementation — the distributed-determinism guarantee that a
    1000-executor run packs the same examples as a single-core one."""
    base = _collect(PK.pack_examples(corpus, seq_len=L, n_shards=4))
    for parts in (1, 13):
        scrambled = corpus.repartition(parts)
        assert _collect(PK.pack_examples(scrambled, seq_len=L, n_shards=4)) == base
        assert (
            _collect(PK.pack_examples_kernel(scrambled, seq_len=L, n_shards=4))
            == base
        )


def test_param_validation_and_null_rows(spark):
    with pytest.raises(ValueError, match="seq_len"):
        PK.pack_examples(None, seq_len=0)  # validated before any plan
    with pytest.raises(ValueError, match="seq_len"):
        PK.pack_examples_kernel(None, seq_len=-3)
    df = spark.createDataFrame(
        [("a", [1, 2, 3], 3, "s"), ("b", None, 0, "s"), (None, [7, 8], 2, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    with pytest.raises(ValueError, match="n_shards"):
        PK.pack_examples(df, seq_len=2, n_shards=0)
    # null token arrays AND null doc_ids drop identically on both paths
    # (a null identity cannot be shuffle-keyed; without the filter the
    # kernel would crash on a NaN shard while relational emitted rows)
    rel = _collect(PK.pack_examples(df, seq_len=2, n_shards=1))
    ker = _collect(PK.pack_examples_kernel(df, seq_len=2, n_shards=1))
    assert rel == ker and len(rel) == 1
    assert rel[0][3] == (1, 2)  # only doc "a" packs; [7,8] dropped with null id
