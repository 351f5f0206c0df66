"""tools/scale_bench.py: every registered op runs its own checks at a
small size and returns exactly its documented fields."""

from __future__ import annotations

import importlib.util
import os
import re

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "scale_bench.py")
_spec = importlib.util.spec_from_file_location("scale_bench", _PATH)
scale_bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scale_bench)

# small enough for the tier-1 budget, large enough that every op's own
# assertions hold on a correct program
N_DOCS = 2000


@pytest.mark.parametrize("op", sorted(scale_bench.OPS))
def test_op_runs_checks_and_returns_documented_fields(spark, op):
    run = scale_bench.OPS[op][0]
    args = scale_bench.parse_args([op, "--docs", str(N_DOCS), "--cores", "4"])
    try:
        fields = run(spark, args.docs, args)
    finally:
        spark.catalog.clearCache()
    documented = re.findall(r"\w+", run.__doc__.split("Fields:", 1)[1])
    assert sorted(fields) == sorted(documented)


def test_unknown_op_exits_and_lists_ops(capsys):
    with pytest.raises(SystemExit) as exc:
        scale_bench.main(["no_such_op"])
    assert exc.value.code != 0
    err = capsys.readouterr().err
    for name in scale_bench.OPS:
        assert name in err
