"""Property-based fuzzing of the part-file layer — the north-rule core
(write_part_file/read_part_file): random webtext-shaped tables must
roundtrip bit-identical through the codec-auto-selected format, and
projections + exact predicates must match a pyarrow-computed oracle on
every input, not just the curated engine tests. Pure python layer (no
Spark session) so examples run in milliseconds."""

import os

import pyarrow as pa
import pyarrow.compute as pc
from hypothesis import given, settings
from hypothesis import strategies as st

from skar_spark.config import EngineConfig
from skar_spark.engine.partfile import read_part_file, write_part_file

SET = settings(max_examples=25, deadline=None)

HOSTS = ["a.com", "b.org", "c.net"]
LANGS = ["en", "de", "xx"]
CFG = EngineConfig(max_row_group_size=7)  # many tiny row groups

ROW = st.tuples(
    st.sampled_from(HOSTS),
    st.integers(0, 10 ** 7),        # seconds offset for warc_ts
    st.text(max_size=40),           # text (any unicode)
    st.binary(max_size=40),         # html payload
    st.sampled_from(LANGS),
)

T0 = 1_700_000_000_000_000


def _table(rows):
    rows = sorted(
        ((h, T0 + s * 1_000_000, f"https://{h}/{i:06d}", t, b, lang)
         for i, (h, s, t, b, lang) in enumerate(rows)),
        key=lambda r: (r[0], r[1], r[2]))  # kernel lexsort (host, ts, url)
    return pa.table({
        "url": pa.array([r[2] for r in rows], pa.string()),
        "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "html": pa.array([r[4] for r in rows], pa.binary()),
        "text": pa.array([r[3] for r in rows], pa.string()),
        "lang": pa.array([r[5] for r in rows], pa.string()),
        "_host": pa.array([r[0] for r in rows], pa.string()),
    })


@given(st.lists(ROW, min_size=1, max_size=60), st.data())
@SET
def test_partfile_roundtrip_and_exact_predicates(tmp_path_factory, rows,
                                                 data):
    t = _table(rows)
    path = os.path.join(str(tmp_path_factory.mktemp("pf")),
                        "part-000000.skar")
    write_part_file(path, t, CFG)
    body = t.drop_columns(["_host"])

    # 1. full roundtrip, bit-identical
    back = read_part_file(path)
    assert back.equals(body)

    # 2. projection decodes only the asked columns, values identical
    cols = data.draw(st.lists(st.sampled_from(body.column_names),
                              min_size=1, max_size=3, unique=True))
    assert read_part_file(path, columns=cols).equals(body.select(cols))

    # 3. exact host equality (host derived from url on read)
    h = data.draw(st.sampled_from(HOSTS))
    got = read_part_file(path, where=[{"hosts": [h]}])
    want = body.filter(pc.equal(t["_host"], h))
    assert got.equals(want)

    # 4. exact [lo, hi) timestamp range
    ts = t["warc_ts"].cast(pa.int64())
    lo = data.draw(st.integers(T0 - 1, T0 + 10 ** 13 + 1))
    hi = data.draw(st.integers(lo, T0 + 10 ** 13 + 2))
    got = read_part_file(path, where=[{"ts_range": (lo, hi)}])
    want = body.filter(pc.and_(pc.greater_equal(ts, lo), pc.less(ts, hi)))
    assert got.equals(want)

    # 5. exact lang equality (second bloom family path)
    lang = data.draw(st.sampled_from(LANGS))
    got = read_part_file(path, where=[{"langs": [lang]}])
    want = body.filter(pc.equal(t["lang"], lang))
    assert got.equals(want)

    # 6. conjunction of all three predicates
    got = read_part_file(path, where=[{"hosts": [h], "ts_range": (lo, hi),
                                       "langs": [lang]}])
    want = body.filter(pc.and_(pc.and_(pc.equal(t["_host"], h),
                                       pc.equal(t["lang"], lang)),
                               pc.and_(pc.greater_equal(ts, lo),
                                       pc.less(ts, hi))))
    assert got.equals(want)


def test_bad_trailing_magic_raises_value_error(tmp_path):
    """The footer's magic check is a raise, not an assert, so it holds
    under ``python -O`` too."""
    import pytest

    from skar_spark.engine.partfile import read_footer
    path = str(tmp_path / "part-000000.skar")
    write_part_file(path, _table([("a.com", 1, "x", b"y", "en")]), CFG)
    with open(path, "r+b") as f:
        f.seek(-1, os.SEEK_END)
        f.write(b"\0")
    with pytest.raises(ValueError, match="bad trailing magic"):
        read_footer(path)


def _matches(conj, row):
    """Per-row oracle of one conjunct (a null never matches a term)."""
    checks = []
    if conj.get("hosts") is not None:
        checks.append(row["_host"] in conj["hosts"])
    if conj.get("langs") is not None:
        checks.append(row["lang"] is not None
                      and row["lang"] in conj["langs"])
    if conj.get("url_prefix") is not None:
        checks.append(any(row["url"].startswith(p)
                          for p in conj["url_prefix"]))
    if conj.get("ts_range") is not None:
        lo, hi = conj["ts_range"]
        checks.append(lo <= row["ts_us"] < hi)
    if conj.get("col_range") is not None:
        col, lo, hi = conj["col_range"]
        checks.append(row[col] is not None and lo <= row[col] < hi)
    return all(checks)


def test_or_of_conjuncts_matches_oracle(tmp_path, monkeypatch):
    """read_part_file's one predicate, an OR of conjuncts, skips row
    groups and filters exactly: every `where` of the grid returns the
    rows a per-row oracle keeps, over a part with many row groups, a
    null `lang` and an evolved numeric column; a selective host
    conjunct decodes fewer chunks than the unfiltered read."""
    from skar_spark.engine import partfile

    hosts = ["a.com", "b.org", "c.net"]
    rows = sorted(
        ((hosts[i % 3], T0 + (i * 7919 % 97) * 1_000_000,
          f"https://{hosts[i % 3]}/{i:04d}",
          None if i == 4 else ["en", "de"][i % 5 == 0],
          None if i % 11 == 0 else (i % 10) / 10)
         for i in range(60)),
        key=lambda r: (r[0], r[1], r[2]))
    t = pa.table({
        "url": pa.array([r[2] for r in rows], pa.string()),
        "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "lang": pa.array([r[3] for r in rows], pa.string()),
        "quality": pa.array([r[4] for r in rows], pa.float64()),
        "_host": pa.array([r[0] for r in rows], pa.string()),
    })
    path = str(tmp_path / "part-000000.skar")
    write_part_file(path, t, CFG)
    assert len(partfile.read_footer(path)["rowgroups"]) > 5
    body = t.drop_columns(["_host"])
    oracle_rows = [dict(r, ts_us=r["warc_ts"]) for r in t.cast(pa.schema(
        [(f.name, pa.int64()) if f.name == "warc_ts" else f
         for f in t.schema])).to_pylist()]
    ts = sorted({r["ts_us"] for r in oracle_rows})
    at = (ts[5], ts[20])  # bounds exactly at row values
    grid = [
        [{"hosts": ["a.com"]}, {"langs": ["de"]}],
        [{"hosts": ["b.org"], "langs": ["en"]}, {"ts_range": at}],
        [{"langs": ["de"], "ts_range": at}, {"hosts": ["c.net", "x.io"]}],
        [{"ts_range": at}],
        [{"ts_range": (ts[5], ts[5])}, {"ts_range": (ts[-1], ts[-1] + 1)}],
        [{"url_prefix": ["https://b.org/00"]}],
        [{"url_prefix": ["https://b.", "https://c.net/"]}],
        [{"url_prefix": ["https://a.com/"], "hosts": ["b.org"]}],
        [{"col_range": ("quality", 0.2, 0.6)}],
        [{"col_range": ("quality", 0.2, 0.6), "langs": ["en"]},
         {"hosts": ["a.com"], "ts_range": at}],
        [{"hosts": []}],
        [{"hosts": []}, {"langs": ["de"]}],
        [{"langs": [None, "en"]}],
        [],
        [{}],
        [{"hosts": ["a.com"]}, {}],
    ]
    for where in grid:
        keep = [any(_matches(c, r) for c in where) for r in oracle_rows]
        want = body.filter(pa.array(keep, pa.bool_()))
        got = read_part_file(path, where=where)
        assert got.equals(want), where
        cols = ["url", "host"]
        got = read_part_file(path, columns=cols, where=where)
        assert got["url"].equals(want["url"]), where
        assert got["host"].to_pylist() == [
            u.split("/")[2] for u in want["url"].to_pylist()], where

    # a part that predates the evolved column: null-filled, never in range
    old = str(tmp_path / "part-000001.skar")
    write_part_file(old, t.drop_columns(["quality"]), CFG)
    fill = {"quality": "f64"}
    assert read_part_file(old, where=[{"col_range": ("quality", 0, 1)}],
                          fill_missing=fill).num_rows == 0
    got = read_part_file(old, ["url", "quality"],
                         [{"col_range": ("quality", 0, 1)},
                          {"hosts": ["a.com"]}], fill)
    assert got.num_rows == 20 and got["quality"].null_count == 20

    calls = []
    real = partfile.decode_array
    monkeypatch.setattr(partfile, "decode_array",
                        lambda b: calls.append(1) or real(b))
    read_part_file(path)
    full = len(calls)
    calls.clear()
    assert read_part_file(path, where=[{"hosts": ["c.net"]}]).num_rows == 20
    assert 0 < len(calls) < full
