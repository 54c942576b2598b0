"""The package runs every per-row Python kernel through one Arrow stage,
``job.pipeline.map_rows``.

The runner test calls the worker function directly on hand-built
RecordBatches, without Spark. The static test keeps pandas stages
(``mapInPandas``, ``applyInPandas``) and every pandas import out of the
package.
"""

import ast
import os

import pyarrow as pa

from deepdoc_api_spark.job.pipeline import _arrow_schema_of, _row_kernel
from deepdoc_api_spark.schema import SPANS_SCHEMA

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "deepdoc_api_spark"
)

SPAN = {"kind": "text", "text": "a b", "media_ref": "", "offset": 0}


def _spans_batch(ids, spans) -> pa.RecordBatch:
    span_type = _arrow_schema_of(SPANS_SCHEMA).field("spans").type
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.string()), pa.array(spans, span_type)],
        names=["doc_id", "spans"],
    )


def test_row_kernel_without_spark():
    out_schema = pa.schema([("doc_id", pa.string()), ("n", pa.int32())])
    seen = []

    def fn(doc_id, spans):
        seen.append((doc_id, spans))
        if spans is None:
            return [{"doc_id": doc_id, "n": -1, "not_in_ddl": object()}]
        return [dict(s, doc_id=doc_id, n=i) for i, s in enumerate(spans)]

    run = _row_kernel(fn, out_schema, ("doc_id", "spans"))
    out = list(
        run(
            iter(
                [
                    _spans_batch(["a", "b"], [[], []]),  # no output rows
                    _spans_batch(["c", "d"], [None, [SPAN, SPAN]]),
                ]
            )
        )
    )

    assert [d for d, _ in seen] == ["a", "b", "c", "d"]
    assert seen[2] == ("c", None)  # a null list<struct> arrives as None
    assert seen[3][1] == [SPAN, SPAN]
    assert len(out) == 1, "a batch whose rows return nothing must emit no batch"
    assert out[0].schema == out_schema
    assert out[0].to_pylist() == [
        {"doc_id": "c", "n": -1},
        {"doc_id": "d", "n": 0},
        {"doc_id": "d", "n": 1},
    ]


def test_no_pandas_map_stages_or_module_pandas_imports():
    stages, imports = [], []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            for n in ast.walk(ast.parse(src, path)):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr in ("mapInPandas", "applyInPandas")
                ):
                    stages.append(f"{rel}:{n.lineno}")
                if isinstance(n, ast.Import):
                    mods = [a.name for a in n.names]
                elif isinstance(n, ast.ImportFrom) and not n.level:
                    mods = [n.module]
                else:
                    continue
                if any(m.split(".")[0] == "pandas" for m in mods):
                    imports.append(f"{rel}:{n.lineno}")
    assert not stages, f"pandas stages (use map_rows or the Arrow stages): {stages}"
    assert not imports, f"pandas imports: {imports}"
