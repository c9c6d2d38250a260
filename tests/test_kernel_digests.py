"""Pinned outputs of the block-rewrite, pair, histogram and decode operators
of all three codec families: every column of every row, including codec
names, payload bytes and the recomputed metadata, hashed with SHA-256 over
the rows sorted by their values. One small fixed input with element nulls,
NaNs, empty rows and a chunked token doc; a digest moves only when an
operator's output does."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from rle_array_spark import engine, strings, tableframe, typed

CHUNK = 16


def _canon(v):
    if isinstance(v, (bytes, bytearray)):
        return "b:" + bytes(v).hex()
    if isinstance(v, float):
        return "f:" + ("nan" if v != v else repr(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return f"{type(v).__name__}:{v!r}"


def _digest(df) -> str:
    rows = sorted(tuple(_canon(x) for x in r) for r in df.collect())
    h = hashlib.sha256(repr(df.columns).encode())
    for r in rows:
        h.update(("|".join(r) + "\n").encode())
    return h.hexdigest()


@pytest.fixture(scope="module")
def src(spark):
    rng = np.random.default_rng(2024)
    rows = []
    for i in range(12):
        n = [0, 3, 40, 9][i % 4] + int(rng.integers(0, 4)) * (i % 4 != 0)
        x = [int(v) for v in np.repeat(rng.integers(0, 5, 8), 6)[:n]]
        y = [int(v) for v in rng.integers(0, 4, n)]
        fa = [None if rng.random() < 0.15 else
              float("nan") if rng.random() < 0.1 else
              float(np.round(rng.normal(), 2)) for _ in range(n)]
        fb = [None if rng.random() < 0.15 else float(rng.integers(-2, 3)) for _ in range(n)]
        sa = [None if rng.random() < 0.15 else f"t{int(rng.integers(0, 3))}" for _ in range(n)]
        sb = [None if rng.random() < 0.15 else f"t{int(rng.integers(0, 3))}" for _ in range(n)]
        rows.append((f"d{i:02d}", f"s{i % 3}", x, y, fa, fb, sa, sb))
    return spark.createDataFrame(
        rows,
        "doc_id string, source string, x array<int>, y array<int>, "
        "fa array<double>, fb array<double>, sa array<string>, sb array<string>",
    )


def _tok(df, col):
    return engine.encode_df(
        df.select("doc_id", "source", df[col].alias("tokens")), chunk_tokens=CHUNK
    )


def _typ(df, col):
    return typed.encode_typed_df(df, col)


def _str(df, col):
    return strings.encode_strings_df(df, col)


def _wide(df):
    return engine.encode_frame_df(df, ["x", "y"])


OPS = {
    "tokens.zip": lambda d: engine.zip_blocks_df(_tok(d, "x"), _tok(d, "y"), "add"),
    "tokens.mask": lambda d: engine.mask_blocks_df(
        _tok(d, "x"), engine.zip_blocks_df(_tok(d, "x"), _tok(d, "y"), "gt")),
    "tokens.filter": lambda d: engine.filter_blocks_df(_tok(d, "y"), [("mod", 3)]),
    "tokens.transform": lambda d: engine.transform_blocks(_tok(d, "x"), "mul", 3),
    "tokens.chain": lambda d: engine.transform_blocks_chain(_tok(d, "y"), [("add", 2), ("mod", 3)]),
    "tokens.value_counts": lambda d: engine.value_counts_blocks_df(_tok(d, "x")),
    "tokens.take": lambda d: engine.take_blocks(_tok(d, "x"), stride=3, offset=1),
    "typed.zip": lambda d: typed.zip_typed_df(_typ(d, "fa"), _typ(d, "fb"), "add"),
    "typed.mask": lambda d: typed.mask_typed_df(
        _typ(d, "fa"), typed.zip_typed_df(_typ(d, "fa"), _typ(d, "fb"), "gt")),
    "typed.filter": lambda d: typed.filter_typed_df(_typ(d, "fa"), "gt", 0.0),
    "typed.transform": lambda d: typed.transform_typed_df(_typ(d, "fa"), "mul", 2.0),
    "typed.chain": lambda d: typed.transform_typed_chain_df(
        _typ(d, "fb"), [("abs", None), ("add", 1.0)]),
    "typed.cast": lambda d: typed.cast_typed_df(_typ(d, "fb"), "float32"),
    "typed.fillna": lambda d: typed.fillna_typed_df(_typ(d, "fa"), value=0.5),
    "typed.shift": lambda d: typed.shift_typed_df(_typ(d, "fa"), 2),
    "typed.dropna": lambda d: typed.dropna_typed_df(_typ(d, "fa")),
    "typed.take": lambda d: typed.take_typed_df(_typ(d, "fa"), stride=2, offset=1),
    "typed.reverse": lambda d: typed.reverse_typed_df(_typ(d, "fb")),
    "typed.value_counts": lambda d: typed.value_counts_typed_df(_typ(d, "fb"), "double"),
    "typed.decode": lambda d: typed.decode_typed_df(_typ(d, "fa"), "double"),
    "strings.dropna": lambda d: strings.dropna_strings_df(_str(d, "sa")),
    "strings.fillna": lambda d: strings.fillna_strings_df(_str(d, "sa"), value="z"),
    "strings.filter": lambda d: strings.filter_strings_df(_str(d, "sa"), "eq", "t1"),
    "strings.transform": lambda d: strings.transform_strings_df(_str(d, "sa"), str.upper),
    "strings.mask": lambda d: strings.mask_strings_df(
        _str(d, "sa"), strings.zip_strings_df(_str(d, "sa"), _str(d, "sb"), "eq")),
    "strings.zip": lambda d: strings.zip_strings_df(_str(d, "sa"), _str(d, "sb"), "ne"),
    "strings.value_counts": lambda d: strings.value_counts_strings_df(_str(d, "sa")),
    "strings.decode": lambda d: strings.decode_strings_df(_str(d, "sa")),
    "frame.zip": lambda d: engine.zip_frame_df(_wide(d), "x", "y", "add"),
    "frame.filter": lambda d: engine.filter_frame_df(
        engine.zip_frame_df(_wide(d), "x", "y", "gt", out_col="m"), "m"),
    "frame.transform": lambda d: engine.transform_frame_df(
        _wide(d), "x", [("mul", 2)], out_col="x2"),
    "frame.decode": lambda d: engine.decode_frame_df(_wide(d), ["x", "y"]),
    "table.encode": lambda d: tableframe.encode_table_df(d, ["x", "fa", "sa"]),
    "table.decode": lambda d: tableframe.decode_table_df(
        tableframe.encode_table_df(d, ["x", "fa", "sa"]),
        {"x": "int", "fa": "double", "sa": "string"}),
}

DIGESTS = {
    "frame.decode": "dc762028cc8a70c5ecd6aecc23568884a3c00d8b0f3b330e4ee61add6c01189d",
    "frame.filter": "9faf80ffd3f4c9677d9bb6dc0e91c32eb3a7bbdb6effa6f64b57cb8430e03120",
    "frame.transform": "fbeefc88fa1504866987d8ede0603166f8fe4ef48d757fa596a7b399d563ef2f",
    "frame.zip": "75512e2ecdcab2c1469449032b59c25902c5ef049a87fb321d6462857288c36c",
    "strings.decode": "08d763a68ba417b888b7d1b02126e7b8767065150cde3e75e8951835849cfa17",
    "strings.dropna": "280584ea05f557e40820dbdf0739d7e9f820f5e3ee2fbbf521875f0d8a4d8e97",
    "strings.fillna": "2201b56f5e288b164efe0b42ded127e93ec77098cb9893cf8b93e18fe68e5108",
    "strings.filter": "71fa27fda852e94de85e0d0b6f9b799559731ba44f88f0b84f2e92be2b34e729",
    "strings.mask": "986b5991b7ff6cbeeecc5507e137e73f1156792acab3be60b17aaaf8e25b5eef",
    "strings.transform": "e165136b943c921efcb891f45e2c10aa70d9c0e34678fcd429187d678803160f",
    "strings.value_counts": "020948fa8d14f19e9707b04d69346d7eed8046383595ad976654baff0db4312c",
    "strings.zip": "b3c15086907b2000f6e942c489cac47eea029544018607e3b785fd2831c7465f",
    "table.decode": "59fe3b0ce48b5dec4c42ef30423e875c9b1aa67a2d91e783ac53d41f8498b8b2",
    "table.encode": "1ca7f4d97e4be5f7a0156ca2f8470a93c01fe68887e3407708d49001eb5c6a33",
    "tokens.chain": "dc879cbe089f85c67ade5abd531425a9319d63f54a38bc015ad828859fd51928",
    "tokens.filter": "0390df32cc57e476e67dc7b63e960cad466973cbcb9a694601d43fe729cfaec1",
    "tokens.mask": "03e9afe35633f08977131130a74a42bf8de0e7e2f3b3bb82241593faeabdc45c",
    "tokens.take": "56208ede3a80290089922f9ea7d74c49407bc05f8a393877321adbfaf385da39",
    "tokens.transform": "cf671af92595a39dacf48c55408bccd8327f3ba01fc5f0a9387f075b56d5eb14",
    "tokens.value_counts": "fa48f62ee9ccd239b7a45ffd108f600118510d72c19390a8721cb834daeaae7d",
    "tokens.zip": "6668c225f559c9b9e1735bd3eb58e6d4be408d0be7f80763b1f19b282e9ee9e6",
    "typed.cast": "10f6d8a211e68f3a188e2732a8a87640e233484e91b0ff4a53e93584d16295e2",
    "typed.chain": "2b39dff02e1d085aff05c94cb402d8eb0c84e46b8f5e41f846d18f67332dc5dc",
    "typed.decode": "58ad75e890777783e2a72f27921ad66ffe266e9e879ecc2d3ffafab65713503e",
    "typed.dropna": "0686e9c83da2a28f344375c8c7605ef8c5419e08f5b11c77359fc0587c8d3c09",
    "typed.fillna": "bec4a2de050c7f46b18bafcf80b79cfe775a044f9ef818a91ba7d11ab9ac6b05",
    "typed.filter": "8213ec29d39e5c87c068ef30e44863906533c259d25f2539930f2ccba7d05f32",
    "typed.mask": "b6a91100805bae4dcbdf86854395ad1baaf6c3ae3380884dfdc6439d1ba4b2f7",
    "typed.reverse": "2949e92308e94fa8d4012ae7f276da436ab7709436dce821521e46c2987d6cb1",
    "typed.shift": "d1b2fc0309f06ee80478eece497b942db436295bbb26ebebb1840c4248549766",
    "typed.take": "ab5e2af801fcbf18ed263086aaaa8db1e16de243c6f462fcb92f99c8300e759f",
    "typed.transform": "92ce3709a385729c38ec7effce6090b5f06dbb9df10ba11f1ce7f5e683bb15d8",
    "typed.value_counts": "49a45a6661d5292ce408358a331f69811352c862e31e133baca9b38457cdc091",
    "typed.zip": "8ba9b4679178ff7a50ffd62f89bc5d4038c9472dcdce8794643dfdab38426dbe",
}


@pytest.mark.parametrize("name", sorted(OPS))
def test_operator_output_pinned(src, name):
    assert _digest(OPS[name](src)) == DIGESTS[name]
