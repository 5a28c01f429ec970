"""A ratchet on the modules of the package that import pandas.

The package's own kernels move data to Python as Arrow. Each module
still allowed to import pandas is listed with its reason; a module not
on the list fails the scan, and so does a listed module that no longer
imports pandas (strike it from the list). Moving a kernel to Arrow
shrinks the list."""

import re
from pathlib import Path

import adhesive_spark

ALLOWED = {
    "operators/inference.py": "batch_infer's model receives a pd.Series",
    "operators/grouped.py": "the pandas GROUPED_AGG and applyInPandas"
    " demonstration",
    "streaming/stateful.py": "applyInPandasWithState has no Arrow form",
}

PANDAS_IMPORT = re.compile(r"^\s*(?:import|from)\s+pandas\b", re.M)


def test_only_listed_modules_import_pandas():
    root = Path(adhesive_spark.__file__).parent
    importing = {
        path.relative_to(root).as_posix()
        for path in root.rglob("*.py")
        if PANDAS_IMPORT.search(path.read_text())
    }
    assert importing == set(ALLOWED), (
        f"not listed: {sorted(importing - set(ALLOWED))}, "
        f"listed but pandas-free: {sorted(set(ALLOWED) - importing)}"
    )
