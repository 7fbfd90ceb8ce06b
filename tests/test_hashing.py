"""The md5 hashing contract (functions/hashing.py): every helper agrees
with its Python twin and with DuckDB, and no other module re-spells it."""

import hashlib
import pathlib
import re

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from document_extractor_spark.functions.hashing import (
    HEX32,
    HEX48,
    HEX60,
    bucket_of,
    md5_bucket,
    md5_int,
    mix_key,
    mix_threshold_col,
    mix_threshold_hex,
    seeded_md5,
)

WIDTHS = (HEX32, HEX48, HEX60)
SEED = "s1:"
N = 97

# a few hundred keys: ASCII, the empty string, whitespace, non-ASCII
# (2-, 3- and 4-byte UTF-8) and NULL
KEYS = ([f"k{i}" for i in range(280)]
        + ["", " ", "\t\n", "é", "naïve café", "日本語テキスト", "😀x",
           "a" * 300, "Ω≈ç√", None])


def _md5(s):
    return None if s is None else hashlib.md5(s.encode("utf-8")).hexdigest()


def _py_row(k):
    """Python twins of every helper, for one key."""
    seeded = _md5(SEED + k) if k is not None else None
    plain = _md5(k)
    row = {"seeded": seeded, "mix": seeded and seeded[:HEX32]}
    for w in WIDTHS:
        row[f"int{w}"] = plain and int(plain[:w], 16)
        row[f"bucket{w}"] = plain and int(plain[:w], 16) % N
    return row


def _spark_rows(spark):
    df = spark.createDataFrame([(i, k) for i, k in enumerate(KEYS)],
                               "i int, key string")
    h = F.md5("key")
    cols = [F.col("i"), seeded_md5(SEED, "key").alias("seeded"),
            mix_key(SEED, "key").alias("mix")]
    for w in WIDTHS:
        cols += [md5_int(h, w).alias(f"int{w}"),
                 md5_bucket(h, N, w).alias(f"bucket{w}")]
    return {r["i"]: r.asDict() for r in df.select(*cols).collect()}


def _duck_rows():
    con = duckdb.connect()
    con.register("keys", pa.table({"i": list(range(len(KEYS))),
                                   "key": KEYS}))
    cols = [f"md5('{SEED}' || CAST(key AS VARCHAR)) AS seeded",
            f"substr(md5('{SEED}' || CAST(key AS VARCHAR)), 1, {HEX32})"
            " AS mix"]
    for w in WIDTHS:
        u = f"('0x' || substr(md5(key), 1, {w}))::UBIGINT"
        cols += [f"{u} AS int{w}", f"{u} % {N} AS bucket{w}"]
    cur = con.execute(f"SELECT i, {', '.join(cols)} FROM keys")
    names = [d[0] for d in cur.description]
    return {r[0]: dict(zip(names, r)) for r in cur.fetchall()}


def test_helpers_agree_with_python_and_duckdb(spark):
    got = _spark_rows(spark)
    duck = _duck_rows()
    assert len(got) == len(duck) == len(KEYS)
    for i, k in enumerate(KEYS):
        want = _py_row(k)
        spark_row = {c: got[i][c] for c in want}
        duck_row = {c: duck[i][c] for c in want}
        assert spark_row == want, k
        assert duck_row == want, k


def test_null_key_hashes_to_null(spark):
    row = _spark_rows(spark)[len(KEYS) - 1]
    assert KEYS[-1] is None
    assert all(v is None for c, v in row.items() if c != "i")


def test_widths_are_exact_non_negative_bigints(spark):
    """The widest prefix, all 'f', stays exact and non-negative (and
    has room for the +1 of weighted_sample's uniform draw)."""
    assert HEX60 * 4 < 63
    df = spark.createDataFrame([("f" * 32,)], "h string")
    row = df.select(*[md5_int(F.col("h"), w).alias(f"w{w}")
                      for w in WIDTHS]).collect()[0]
    assert [row[f"w{w}"] for w in WIDTHS] == [16**w - 1 for w in WIDTHS]


def test_bucket_of_is_the_python_twin_of_md5_bucket(spark):
    feats = [k for k in KEYS if k is not None]
    df = spark.createDataFrame([(f,) for f in feats], "f string")
    for dim in (1, 7, 512, 4096):
        got = [r[0] for r in df.select(
            md5_bucket(F.md5("f"), dim).cast("int")).collect()]
        assert got == [bucket_of(f, dim) for f in feats]


@pytest.mark.parametrize("weight", [-1.0, -0.2, 0.0, 1e-9, 0.3, 0.5,
                                    0.999999, 1.0, 2.5])
def test_mix_threshold_col_matches_hex(spark, weight):
    df = spark.createDataFrame([(weight,)], "w double")
    got = df.select(mix_threshold_col(F.col("w"))).collect()[0][0]
    assert got == mix_threshold_hex(weight)


def test_mix_key_keep_decision_matches_duckdb(spark):
    """The keep filter is a plain hex-string comparison in both
    engines; the kept key sets agree for every threshold."""
    con = duckdb.connect()
    con.register("keys", pa.table({"key": KEYS}))
    df = spark.createDataFrame([(k,) for k in KEYS], "key string")
    for w in (0.0, 0.25, 0.5, 0.9, 1.0):
        thr = mix_threshold_hex(w)
        got = {r[0] for r in df.where(mix_key(SEED, "key") < F.lit(thr))
               .collect()}
        want = {r[0] for r in con.execute(
            f"SELECT key FROM keys WHERE substr(md5('{SEED}' || key), "
            f"1, {HEX32}) < '{thr}'").fetchall()}
        assert got == want
        assert got == {k for k in KEYS
                       if k is not None and _md5(SEED + k)[:8] < thr}


# -- the contract is not forked again ------------------------------------

_PKG = pathlib.Path(__file__).resolve().parent.parent / \
    "document_extractor_spark"
_HOME = _PKG / "functions" / "hashing.py"

#: md5(seed ‖ …) spelled out instead of seeded_md5 / mix_key
_SEEDED = re.compile(r"F\.md5\(\s*F\.concat\(\s*F\.lit")
#: hex prefix → integer spelled out instead of md5_int / md5_bucket
_CONV = re.compile(r"F\.conv\(\s*F\.substring\(")
#: a module-level md5 width constant or a private bucket / draw helper
_LOCAL = re.compile(r"^(_(FRAC_)?HEX\s*=|def _(bucket|draw)\b)", re.M)

#: conv(substring(…)) sites that are not the md5→int idiom: the HLL
#: rank/bucket split reads 2 hex chars as an int register index, and the
#: linear model reads its fixed-width weight table (not a hash)
_CONV_ALLOWED = {"operators/hll.py": 1, "operators/linmodel.py": 1}


def _modules():
    for p in sorted(_PKG.rglob("*.py")):
        if p != _HOME:
            yield p.relative_to(_PKG).as_posix(), p.read_text("utf-8")


def test_no_module_respells_the_md5_contract():
    seeded, local, conv = [], [], {}
    for name, src in _modules():
        if _SEEDED.search(src):
            seeded.append(name)
        if _LOCAL.search(src):
            local.append(name)
        n = len(_CONV.findall(src))
        if n:
            conv[name] = n
    assert seeded == [], "use hashing.seeded_md5 / mix_key"
    assert local == [], "use hashing's widths and md5_bucket"
    assert conv == _CONV_ALLOWED, "use hashing.md5_int / md5_bucket"
    assert _SEEDED.search(_HOME.read_text("utf-8"))
