"""Optional-dependency gates — the Spark-side analogue of the
reference's ``marEx._dependencies`` (reference _dependencies.py:7-243:
DependencyTracker, has_dependency, require_dependencies,
print_dependency_status, get_installation_profile).

The engine's hard dependencies (pyspark, pyarrow, pandas, numpy) are
assumed present; everything else is optional and feature-gated with a
typed ``DependencyError`` carrying an actionable suggestion — the same
contract the reference's tracker enforces (its raise at
_dependencies.py:101-130).
"""

from __future__ import annotations

from importlib.util import find_spec

from marex_spark.exceptions import DependencyError

# dependency -> which engine feature wants it (docs + status printout)
OPTIONAL_DEPENDENCIES: dict[str, str] = {
    "xarray": "NetCDF/zarr ingestion via the xarray reader fallback",
    "netCDF4": "NetCDF-4 (HDF5-backed) ingestion; classic format needs nothing",
    "zarr": "writing zarr stores (reading uses the built-in chunk reader)",
    "numcodecs": "zarr stores compressed with codecs beyond zlib/blosc-lz4",
    "matplotlib": "figure-object rendering (render.py's PNG writer needs nothing)",
    "scipy": "cross-checking morphology kernels in tests",
    "duckdb": "the local oracle gate (tools/oracle_check.py)",
    "psutil": "memory telemetry in logging helpers",
}

_cache: dict[str, bool] = {}


def has_dependency(dep_name: str) -> bool:
    """True if the module can be imported (reference _dependencies.py:217)."""
    if dep_name not in _cache:
        try:
            _cache[dep_name] = find_spec(dep_name) is not None
        except (ImportError, ValueError):
            _cache[dep_name] = False
    return _cache[dep_name]


def require_dependencies(
    dependencies: list[str], feature: str = "This functionality"
) -> None:
    """Raise DependencyError naming every missing module (reference
    _dependencies.py:90-130)."""
    missing = [d for d in dependencies if not has_dependency(d)]
    if missing:
        raise DependencyError(
            f"{feature} requires missing dependencies: {', '.join(missing)}",
            details={"missing": missing},
            suggestions=[f"pip install {' '.join(missing)}"],
        )


def get_installation_profile() -> str:
    """'minimal' | 'io' | 'full' by what's importable (the reference's
    profile ladder, _dependencies.py:157-179, re-based on this engine's
    optional set)."""
    io_deps = ["xarray", "zarr"]
    full_deps = io_deps + ["matplotlib", "scipy", "duckdb"]
    if all(has_dependency(d) for d in full_deps):
        return "full"
    if all(has_dependency(d) for d in io_deps):
        return "io"
    return "minimal"


def print_dependency_status() -> None:
    """Human-readable status table (reference _dependencies.py:181-214)."""
    print("marex_spark Dependency Status:")
    print("-" * 40)
    print(f"Current Profile: {get_installation_profile()}")
    for dep, feature in OPTIONAL_DEPENDENCIES.items():
        mark = "+" if has_dependency(dep) else "-"
        print(f"  [{mark}] {dep:<12} {feature}")
