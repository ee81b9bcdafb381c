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
    got = read_part_file(path, host_eq=h)
    want = body.filter(pc.equal(t["_host"], h))
    assert got.equals(want)

    # 4. exact [lo, hi) timestamp range
    ts = t["warc_ts"].cast(pa.int64())
    lo = data.draw(st.integers(T0 - 1, T0 + 10 ** 13 + 1))
    hi = data.draw(st.integers(lo, T0 + 10 ** 13 + 2))
    got = read_part_file(path, ts_range=(lo, hi))
    want = body.filter(pc.and_(pc.greater_equal(ts, lo), pc.less(ts, hi)))
    assert got.equals(want)

    # 5. exact lang equality (second bloom family path)
    lang = data.draw(st.sampled_from(LANGS))
    got = read_part_file(path, lang_eq=lang)
    want = body.filter(pc.equal(t["lang"], lang))
    assert got.equals(want)

    # 6. conjunction of all three predicates
    got = read_part_file(path, host_eq=h, ts_range=(lo, hi), lang_eq=lang)
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
