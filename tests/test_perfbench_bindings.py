"""perfbench's tracer wraps engine and codec functions by module
attribute name; a rename that drops one of those names fails here, in
the unit suite, instead of in a benchmark run. No Spark needed."""

from perfbench.trace import Tracer


def test_tracer_binds_every_wrapped_name():
    tr = Tracer()
    try:
        tr.install_engine()
        tr.install_codecs()
        patched = list(tr._patched)
        assert patched
        for module, attr, orig in patched:
            assert getattr(module, attr).__wrapped__ is orig, attr
    finally:
        tr.unwrap_all()
    for module, attr, orig in patched:
        assert getattr(module, attr) is orig, attr
