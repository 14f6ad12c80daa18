"""Property-based tests (hypothesis) for the T-SQL-semantics scalar layer.

The unit tests pin known cases; these pin the SEMANTICS over arbitrary
inputs — the null-handling and padding contracts the whole pipeline leans
on. One Spark job per property batch (inputs collected into a single-frame
evaluation) keeps runtime sane.
"""

from __future__ import annotations

import datetime

from hypothesis import given, settings
from hypothesis import strategies as st
import pytest
from pyspark.sql import functions as F

from etl_loading_scripts_spark.functions import tsql

TEXT = st.one_of(st.none(), st.text(min_size=0, max_size=20))


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


@settings(max_examples=25, deadline=None)
@given(a=TEXT, b=TEXT)
def test_concat_nullsafe_treats_null_as_empty(spark, a, b):
    got = _eval(spark, tsql.concat_nullsafe(F.lit(a), F.lit(b), sep="_"))
    assert got == f"{a or ''}_{b or ''}"


@settings(max_examples=25, deadline=None)
@given(a=TEXT, b=TEXT)
def test_concat_plus_propagates_null(spark, a, b):
    got = _eval(spark, tsql.concat_plus(F.lit(a), F.lit(b)))
    if a is None or b is None:
        assert got is None
    else:
        assert got == a + b


@settings(max_examples=25, deadline=None)
@given(n=st.integers(min_value=0, max_value=10**9))
def test_zero_pad_last_is_right_4_of_padded(spark, n):
    got = _eval(spark, tsql.zero_pad_last(F.lit(n)))
    assert got == ("0000" + str(n))[-4:]
    assert len(got) == 4


@settings(max_examples=25, deadline=None)
@given(s=st.text(max_size=20))
def test_null_if_blank_exactly_blank_to_null(spark, s):
    # T-SQL LTRIM/RTRIM (and Spark trim) strip ONLY the space character —
    # NOT \t/\r/\n like Python str.strip(); the property pins that exact
    # reference semantic (hypothesis originally caught the difference)
    got = _eval(spark, tsql.null_if_blank(F.lit(s)))
    stripped = s.strip(" ")
    if stripped == "":
        assert got is None
    else:
        assert got == stripped


@settings(max_examples=25, deadline=None)
@given(
    d=st.dates(min_value=datetime.date(1990, 1, 1), max_value=datetime.date(2099, 12, 31))
)
def test_datekey_roundtrip_any_date(spark, d):
    key = _eval(spark, tsql.datekey(F.lit(d)))
    assert key == d.year * 10000 + d.month * 100 + d.day
    back = _eval(spark, tsql.datekey_to_date(F.lit(key)))
    assert back == d


# ---------------------------------------------------------------------------
# COW merge vs per-month merge_upsert (the join-based reference semantics)
# ---------------------------------------------------------------------------

_COW_MONTHS = (202401, 202402, 202403)


@settings(max_examples=6, deadline=None)
@given(
    tgt=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.sampled_from(_COW_MONTHS),
        ),
        max_size=10,
    ),
    src=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.sampled_from(_COW_MONTHS[:2]),
        ),
        min_size=1,
        max_size=8,
    ),
    full_sync=st.booleans(),
)
@pytest.mark.soak
def test_cow_merge_equals_per_month_merge_upsert(spark, tmp_path_factory, tgt, src, full_sync):
    """For arbitrary (key, month) targets and sources, the COW-merged
    Delta table equals: per source month, merge_upsert of that month's
    slice with that month's source rows; months the source skips
    unchanged."""
    from etl_loading_scripts_spark.operators.deltalog import (
        merge_cow_deltalog,
        read_delta_table,
        write_delta_table,
    )
    from etl_loading_scripts_spark.operators.mutations import merge_upsert
    from etl_loading_scripts_spark.sources.io import MONTH_COL, with_month

    path = str(tmp_path_factory.mktemp("cowprop") / "fact")
    tgt_rows = [(k, m * 100 + 10 + k, float(k)) for (k, m) in sorted(tgt)]
    src_rows = [(k, m * 100 + 20 + k, float(100 + k)) for (k, m) in sorted(src)]
    schema = "k BIGINT, datekey INT, amount DOUBLE"
    target = spark.createDataFrame(tgt_rows, schema) if tgt_rows else spark.createDataFrame([], schema)
    source = spark.createDataFrame(src_rows, schema)
    write_delta_table(with_month(target), path, partition_by=[MONTH_COL])

    merge_cow_deltalog(
        spark, path, source, on=["k"], delete_unmatched_source=full_sync
    )
    got = {
        (r.k, r.datekey, r.amount)
        for r in read_delta_table(spark, path)
        .select("k", "datekey", "amount")
        .collect()
    }

    expect = set()
    src_months = {m for (_, m) in src}
    for m in _COW_MONTHS:
        t_slice = target.filter((F.col("datekey") / 100).cast("int") == m)
        if m not in src_months:
            expect |= {(r.k, r.datekey, r.amount) for r in t_slice.collect()}
            continue
        s_slice = source.filter((F.col("datekey") / 100).cast("int") == m)
        ref = merge_upsert(
            t_slice, s_slice, ["k"], delete_unmatched_source=full_sync
        )
        expect |= {(r.k, r.datekey, r.amount) for r in ref.collect()}
    assert got == expect


@settings(max_examples=5, deadline=None)
@given(
    months=st.lists(
        st.sets(st.integers(min_value=0, max_value=11), max_size=5),
        min_size=1,
        max_size=4,
    ),
)
@pytest.mark.soak
def test_insert_grain_publish_equals_full_sync(spark, tmp_path_factory, months):
    """Random month sequences of an insert-only dim (each month inserts
    the names it lacks, surrogate keys past the max) published through
    the "insert" grain in one warehouse and the full-sync "dim" grain in
    another: at every set version both hold the same rows, and the
    insert grain never drops or rewrites a file of the previous set.
    The frames are parquet read-backs, as the staged runner's are, so a
    month that inserts nothing is answered from the footers."""
    import hashlib
    import os

    from etl_loading_scripts_spark.operators import deltalog as dl

    root = tmp_path_factory.mktemp("insertgrain")
    bases = {g: str(root / g) for g in ("insert", "dim")}
    schema = "k BIGINT, name STRING"
    state: list[tuple[int, str]] = [(1, "c0"), (2, "c1")]  # the bootstrap
    seen_bytes: dict[str, str] = {}

    def active(base: str, sv: int) -> dict[str, str]:
        """{file: md5} of the dim at set version ``sv``."""
        coord = os.path.join(base, dl._SET_DIR)
        tpath = os.path.join(base, "dim")
        pinned = dl._set_commit_at(coord, sv)["tables"]["dim"]
        out = {}
        for rel in dl._snapshot_state(tpath, pinned)[0]:
            with open(os.path.join(tpath, rel), "rb") as fh:
                out[rel] = hashlib.md5(fh.read()).hexdigest()
        return out

    for sv, names in enumerate([set(), *months]):
        have = {n for _, n in state}
        new = sorted(f"c{i}" for i in names if f"c{i}" not in have)
        top = max(k for k, _ in state)
        grown = state + [(top + i, n) for i, n in enumerate(new, start=1)]
        frame_dir = str(root / f"frame{sv}")
        spark.createDataFrame(grown, schema).write.parquet(frame_dir)
        frame = spark.read.schema(schema).parquet(frame_dir)
        specs = {
            "insert": {"on": ["k"], "grain": "insert"},
            "dim": {"on": ["k"], "grain": "dim", "delete_unmatched_source": True},
        }
        for g, base in bases.items():
            assert dl.publish_set_deltalog(
                {"dim": frame}, base, incremental={"dim": specs[g]}
            ) == sv
        state = grown
        got = {
            g: sorted(map(tuple, dl.read_published_set_deltalog(
                spark, base, version=sv)["dim"].collect()))
            for g, base in bases.items()
        }
        assert got["insert"] == got["dim"] == sorted(state)
        files = active(bases["insert"], sv)
        if sv:
            assert set(active(bases["insert"], sv - 1)) <= set(files)
        for rel, digest in files.items():
            assert seen_bytes.setdefault(rel, digest) == digest, rel


@settings(max_examples=30, deadline=None)
@given(data=st.binary(min_size=0, max_size=2000))
def test_tiff_lzw_roundtrips_arbitrary_bytes(data):
    """TIFF-LZW (early code-width change) is lossless on ANY byte
    string — the encoder/decoder width accounting has no slack."""
    from etl_loading_scripts_spark.llm.tiff import (
        lzw_decode_tiff,
        lzw_encode_tiff,
    )

    assert lzw_decode_tiff(lzw_encode_tiff(data), len(data)) == data


@settings(max_examples=30, deadline=None)
@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=300
    )
)
def test_g711_codeword_fixpoint_and_adpcm_header_exactness(samples):
    """G.711: decode∘encode is a projection (applying it twice equals
    applying it once — companding quantizes to codeword values, which
    then round-trip exactly). IMA ADPCM: the block header carries the
    first sample verbatim for any input."""
    import numpy as np

    from etl_loading_scripts_spark.llm.audio import (
        alaw_decode,
        alaw_encode,
        ima_adpcm_decode_block,
        ima_adpcm_encode_block,
        ulaw_decode,
        ulaw_encode,
    )

    s = np.array(samples, dtype=np.int16)
    for enc, dec in ((ulaw_encode, ulaw_decode), (alaw_encode, alaw_decode)):
        once = dec(enc(s))
        twice = dec(enc(once))
        assert np.array_equal(once, twice)
    dec_b = ima_adpcm_decode_block(ima_adpcm_encode_block(s), len(s))
    assert int(dec_b[0]) == int(s[0])


@settings(max_examples=12, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=32),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_progressive_jpeg_transport_equals_baseline(w, h, seed):
    """For ANY image size and content, the 8-scan successive-
    approximation progressive stream decodes bit-identical to the
    baseline sequential stream of the same quantized coefficients."""
    import numpy as np

    from etl_loading_scripts_spark.llm.jpeg import (
        decode_jpeg,
        encode_jpeg_rgb,
        encode_jpeg_rgb_progressive,
    )

    img = np.random.RandomState(seed).randint(0, 256, (h, w, 3)).astype(np.uint8)
    assert decode_jpeg(
        encode_jpeg_rgb_progressive(w, h, img.tobytes())
    ) == decode_jpeg(encode_jpeg_rgb(w, h, img.tobytes()))


@settings(max_examples=30, deadline=None)
@given(
    payloads=st.lists(st.binary(min_size=0, max_size=300), min_size=1, max_size=8),
    gz=st.booleans(),
)
def test_warc_framing_roundtrips_arbitrary_payloads(tmp_path_factory, payloads, gz):
    """WARC framing is payload-agnostic: ANY byte payloads (including
    ones containing CRLF CRLF and fake 'WARC/1.0' lines — the framing
    must trust Content-Length, never scan for delimiters) round-trip
    through write → (gzip-member) → parse."""
    import gzip as _gzip

    from etl_loading_scripts_spark.sources.warc import (
        build_warc_record,
        iter_warc_records,
        write_warc,
    )

    recs = [
        build_warc_record("response", f"http://x/{i}", "2026-01-01T00:00:00Z",
                          "application/octet-stream", p)
        for i, p in enumerate(payloads)
    ]
    d = tmp_path_factory.mktemp("warcprop")
    path = str(d / ("a.warc.gz" if gz else "a.warc"))
    write_warc(path, recs, gzip_members=gz)
    raw = open(path, "rb").read()
    if gz:
        raw = _gzip.decompress(raw)
    got = list(iter_warc_records(raw))
    assert [r["payload"] for r in got] == payloads


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=16),
    ncolors=st.integers(min_value=1, max_value=30),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_vp8l_roundtrips_arbitrary_images(w, h, ncolors, seed):
    """VP8L: ANY image round-trips bit-exact through the literal path,
    the subtract-green transform, and (when the color count allows) the
    palette transform with whatever bundling tier applies."""
    import numpy as np

    from etl_loading_scripts_spark.llm.webp import (
        decode_webp_lossless,
        encode_webp_lossless,
        encode_webp_palette,
    )

    rng = np.random.RandomState(seed)
    colors = rng.randint(0, 256, (ncolors, 4)).astype(np.uint8)
    px = colors[rng.randint(0, ncolors, w * h)]
    raw = px.tobytes()
    assert decode_webp_lossless(encode_webp_lossless(w, h, raw)) == (w, h, raw)
    assert decode_webp_lossless(
        encode_webp_lossless(w, h, raw, subtract_green=True)
    ) == (w, h, raw)
    assert decode_webp_lossless(encode_webp_palette(w, h, raw)) == (w, h, raw)


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=10),
    data=st.data(),
)
def test_webp_neighbor_and_combined_roundtrip_property(w, h, data):
    """Property: ANY RGBA image round-trips bit-exact through both the
    neighbor-map backref encoder and the combined (subtract-green +
    cache + backref) encoder — including degenerate 1-pixel rows,
    all-identical images, and hostile random content."""
    from etl_loading_scripts_spark.llm.webp import (
        decode_webp_lossless,
        encode_webp_combined,
        encode_webp_neighbor,
    )

    raw = bytes(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=w * h * 4,
                max_size=w * h * 4,
            )
        )
    )
    assert decode_webp_lossless(encode_webp_neighbor(w, h, raw)) == (w, h, raw)
    assert decode_webp_lossless(encode_webp_combined(w, h, raw)) == (w, h, raw)


@settings(max_examples=30, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(
                    min_codepoint=32, max_codepoint=126
                ),
                max_size=12,
            ),
            st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32)),
            st.booleans(),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_literal_table_roundtrip_property(spark, rows):
    """Property: literal_table (the VALUES-based bounded-table builder
    behind broadcast_scalar safety) round-trips arbitrary printable
    strings — quotes and backslashes included — NULLs, floats, and
    booleans, and always plans as a statically-countable node."""
    from etl_loading_scripts_spark.plancheck import literal_table, plan_is_bounded

    df = literal_table(spark, rows, "s string, v double, flag boolean")
    got = [
        (r.s, r.v, r.flag) for r in df.collect()
    ]
    want = [(s, float(v) if v is not None else None, b) for s, v, b in rows]
    assert sorted(got, key=repr) == sorted(want, key=repr)
    assert plan_is_bounded(df._jdf.queryExecution().sparkPlan(), 64)
