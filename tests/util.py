"""Shared test helpers."""

import numpy as np
import pyarrow as pa


def assert_arrays_equal(out: pa.Array, ref: pa.Array, ctx=""):
    """Bit-exact logical equality; NaN-aware for float types."""
    assert out.type == ref.type, (ctx, out.type, ref.type)
    assert len(out) == len(ref), ctx
    if pa.types.is_floating(ref.type):
        mo = np.asarray(out.is_valid())
        mr = np.asarray(ref.is_valid())
        np.testing.assert_array_equal(mo, mr, err_msg=str(ctx))
        iv = np.int32 if ref.type == pa.float32() else np.int64
        vo = np.asarray(out.fill_null(0.0)).view(iv)
        vr = np.asarray(ref.fill_null(0.0)).view(iv)
        np.testing.assert_array_equal(vo[mr], vr[mr], err_msg=str(ctx))
    else:
        assert out.equals(ref), ctx
        assert out.to_pylist() == ref.to_pylist(), ctx


def has_rows(f: str, host_eq=None, any_hosts=None, **pred) -> bool:
    """Oracle: does part file `f` hold ≥1 row matching the predicate
    exactly? `any_hosts` is host-IN; with `host_eq` too, both hold."""
    if host_eq is not None and any_hosts and host_eq not in any_hosts:
        return False
    from skar_spark.engine.decode import conjunct
    from skar_spark.engine.partfile import read_part_file

    hosts = [host_eq] if host_eq is not None else (any_hosts or [None])
    return any(read_part_file(f, columns=["url"],
                              where=[conjunct(h, **pred)]).num_rows
               for h in hosts)


def assert_sound(kept, universe: set, **pred) -> None:
    """Pruning soundness: every member file holding a matching row is
    kept, and nothing outside the table's membership is."""
    assert set(kept) <= universe, pred
    for f in sorted(universe):
        if has_rows(f, **pred):
            assert f in kept, (f, pred)
