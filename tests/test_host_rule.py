"""The one host rule (partfile.HOST_RE): the JVM derivation that fills
the stored host blooms (encode.with_host) and the Arrow derivation every
read applies (partfile._derive_host) agree row for row, so a host
pushed into a read prunes with the same host the writer stored."""

import pytest

from skar_spark.engine.encode import with_host
from skar_spark.engine.partfile import _derive_host
from skar_spark.synth import synth_documents

pytestmark = pytest.mark.spark

ODD_URLS = [
    None,
    "https://b.com/x\ny",       # line terminator past the authority
    "https://c.com/x\r",
    "https://d.com\r\n/x",
    "HTTPS://Upper.com/x",      # uppercase scheme: no host
    "Http://mixed.com/",
    "https://q.com?x=1",
    "https://f.com#frag",
    "a.com/no-scheme",
    "//a.com/x",
    "",
    "not a url",
    "https://",
    "ftp://b.org/y",
    "https://h.com:8080/p",
]


def test_jvm_and_arrow_host_rules_agree(spark):
    urls = synth_documents(spark, 2_000, partitions=2).select("url") \
        .unionByName(spark.createDataFrame([(u,) for u in ODD_URLS],
                                           "url string"))
    t = with_host(urls).toArrow()
    assert t.num_rows == 2_000 + len(ODD_URLS)
    assert _derive_host(t["url"]).to_pylist() == t["host"].to_pylist()
    host = dict(zip(t["url"].to_pylist(), t["host"].to_pylist()))
    assert host["https://b.com/x\ny"] == "b.com"
    assert host[None] is None
    assert host["HTTPS://Upper.com/x"] == "" == host["a.com/no-scheme"]
