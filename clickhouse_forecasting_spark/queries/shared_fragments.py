# SQL fragments shared across query families (r9): these lived in
# similarity_search while dedup_ann_scale forward-referenced them through
# the package's shared exec namespace — the one genuine cycle that kept
# both families on the exec loader. Hoisted here so every part can be a
# real importable module.

from __future__ import annotations

from ..functions import similarity as SIM

# embeddings fixture dimensionality (TESTDATA.md); the similarity/sketch
# families size their plane constants and audits from it
_EMB_DIM = 64


def _planes_cte(n_planes: int, dim: int = _EMB_DIM) -> str:
    """VALUES CTE of the seed-42 hyperplanes (repr round-trips doubles
    exactly, so both engines see bit-identical plane constants)."""
    planes = SIM.random_hyperplanes(dim, n_planes)
    rows = ",\n    ".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ", ".join(repr(float(v)) for v in plane)
        )
        for i, plane in enumerate(planes)
    )
    return f"planes(i, p) AS (VALUES {rows})"
