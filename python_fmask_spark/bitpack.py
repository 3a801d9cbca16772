"""The one boolean pack format of the engine's exchanges.

The sort feeding an ``applyInPandas`` exchange stores every field in an
8-byte UnsafeRow slot, so k boolean columns cost 8k bytes a row there.
Instead they ride ONE tinyint: the i-th name of a pack is bit ``1 << i``
(at most eight names). The slim scene exchange (operators.scene) and
the tiled halo kernels (tiling.tiled_neighborhood) both pack this way;
SQL packs, and SQL or NumPy unpacks.
"""

from __future__ import annotations

import numpy as np


def pack_sql(names: tuple[str, ...]) -> str:
    """The tinyint SQL expression packing the boolean columns ``names``."""
    bits = " + ".join(f"{1 << i} * cast({name} as int)"
                      for i, name in enumerate(names))
    return f"cast({bits or '0'} as tinyint)"


def unpack_sql(names: tuple[str, ...], col: str) -> tuple[str, ...]:
    """One ``... AS name`` SQL expression per boolean packed in ``col``."""
    return tuple(f"({col} & {1 << i}) != 0 AS {name}"
                 for i, name in enumerate(names))


def unpack(bits: np.ndarray, names: tuple[str, ...]) -> dict[str, np.ndarray]:
    """{name: boolean array} from the packed values ``bits``."""
    return {name: (bits & (1 << i)) != 0 for i, name in enumerate(names)}
