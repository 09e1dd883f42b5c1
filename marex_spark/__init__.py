"""marex_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference `wienkers/marEx` package
(marine-extremes detect + track), rebuilt Spark-first.

Reference (read-only, for semantics only): /root/reference/
Blueprint: SURVEY.md at the repo root.

Layout
------
- ``session``    : SparkSession builder tuned for local[N] + oracle parity.
- ``datamodel``  : long-format schemas + dimension-name mapping.
- ``sources``    : parquet star-schema loaders + synthetic fixture generators.
- ``functions``  : scalar/temporal/geometry/binning column helpers.
- ``operators``  : the engine — climatology, thresholds, labelling,
                   morphology, overlap/tracking, stats, dedup, similarity,
                   text analysis, multimodal plumbing.
- ``queries``    : the driver-facing registry mapping SURVEY.md §2 operator
                   IDs to (spark_fn, oracle_sql) pairs.
- ``streaming``  : Structured-Streaming-compatible wrappers.
"""

__version__ = "0.1.0"

from marex_spark.session import get_spark  # noqa: F401


def __getattr__(name):
    """Lazy top-level API: the user-facing surface of the reference —
    ``preprocess_data`` (detect) and ``track_events`` (track) plus the
    engine's main entry points — without importing the whole operator
    tree at package import."""
    from importlib import import_module

    api = {
        "preprocess_data": "marex_spark.operators.detect",
        "audit_series": "marex_spark.operators.detect",
        "compute_normalised_anomaly": "marex_spark.api",
        "identify_extremes": "marex_spark.api",
        "rolling_climatology": "marex_spark.api",
        "smoothed_rolling_climatology": "marex_spark.api",
        "wrap_exception": "marex_spark.exceptions",
        "MarExError": "marex_spark.exceptions",
        "MarexSparkError": "marex_spark.exceptions",
        "DataValidationError": "marex_spark.exceptions",
        "CoordinateError": "marex_spark.exceptions",
        "ProcessingError": "marex_spark.exceptions",
        "ConfigurationError": "marex_spark.exceptions",
        "DependencyError": "marex_spark.exceptions",
        "TrackingError": "marex_spark.exceptions",
        "VisualisationError": "marex_spark.exceptions",
        "create_data_validation_error": "marex_spark.exceptions",
        "create_coordinate_error": "marex_spark.exceptions",
        "create_processing_error": "marex_spark.exceptions",
        "require_dependencies": "marex_spark._dependencies",
        "detect_extremes_blocked": "marex_spark.operators.detect_blocked",
        "detect_extremes_blocked_packed": "marex_spark.operators.detect_blocked",
        "pack_gridded": "marex_spark.operators.detect_blocked",
        "preprocess_extremes": "marex_spark.operators.track",
        "morph_close_open_blocked": "marex_spark.operators.morphology",
        "track_events": "marex_spark.operators.track",
        "track_events_unstructured": "marex_spark.operators.track",
        "split_merge_events": "marex_spark.operators.merge",
        "asof_join": "marex_spark.operators.asof",
        "range_join_binned": "marex_spark.operators.asof",
        "ingest_zarr_gridded": "marex_spark.sources.zarr",
        "ingest_netcdf": "marex_spark.sources.io",
        "ingest_netcdf_classic": "marex_spark.sources.netcdf",
        "write_netcdf_classic": "marex_spark.sources.netcdf",
        "unify_coordinates": "marex_spark.functions.geometry",
        "snapshot_grid": "marex_spark.viz",
        "episode_stats": "marex_spark.operators.stats",
        "trajectories": "marex_spark.viz",
        "clim_robust_limits": "marex_spark.viz",
        "pack_unstructured": "marex_spark.operators.detect_blocked",
        "detect_extremes_unstructured_packed": "marex_spark.operators.detect_blocked",
        "open_catalog": "marex_spark.sources.catalog",
        "write_bucketed": "marex_spark.sources.io",
        "write_track_result": "marex_spark.sources.io",
        "read_track_result": "marex_spark.sources.io",
        "checkpoint_parquet": "marex_spark.sources.io",
        # incremental run lifecycle (round-3): append / recover
        "extend_track_events": "marex_spark.operators.track",
        "extend_track_events_unstructured": "marex_spark.operators.track",
        "extend_track_run": "marex_spark.sources.io",
        "rewind_track_run": "marex_spark.sources.io",
        # in-engine training (round-3)
        "kmeans_fit": "marex_spark.operators.embed",
        "kmeans_assign": "marex_spark.operators.embed",
        "pca_fit": "marex_spark.operators.embed",
        "pca_project": "marex_spark.operators.embed",
        "embedding_normalize": "marex_spark.operators.embed",
        "hashed_bow_features": "marex_spark.operators.classify",
        "logreg_fit": "marex_spark.operators.classify",
        "logreg_predict": "marex_spark.operators.classify",
        "bpe_fit": "marex_spark.operators.bpe",
        "bpe_segment": "marex_spark.operators.bpe",
        "word_frequency": "marex_spark.operators.bpe",
        "GriddedPlotter": "marex_spark.render",
        "UnstructuredPlotter": "marex_spark.render",
        "render_frames_distributed": "marex_spark.render",
        "Tracker": "marex_spark.tracker",
        "tracker": "marex_spark.tracker",
        "regional_tracker": "marex_spark.tracker",
        "cell_areas_from_resolution": "marex_spark.tracker",
        "plotX": "marex_spark.render",
        "PlotConfig": "marex_spark.render",
        "specify_grid": "marex_spark.render",
        "configure_spark": "marex_spark.helper",
        "start_local_cluster": "marex_spark.helper",
        "recommended_shuffle_partitions": "marex_spark.helper",
        "has_dependency": "marex_spark._dependencies",
        "get_installation_profile": "marex_spark._dependencies",
        "print_dependency_status": "marex_spark._dependencies",
        "get_logger": "marex_spark.logging_config",
        "configure_logging": "marex_spark.logging_config",
        "set_verbose_mode": "marex_spark.logging_config",
        "set_quiet_mode": "marex_spark.logging_config",
        "set_normal_logging": "marex_spark.logging_config",
        "get_verbosity_level": "marex_spark.logging_config",
        "is_verbose_mode": "marex_spark.logging_config",
        "is_quiet_mode": "marex_spark.logging_config",
        "log_timing": "marex_spark.logging_config",
        # LLM-pipeline operators promoted to parameterised API (round 7)
        "bloom_geometry": "marex_spark.operators.dedup",
        "bloom_fit": "marex_spark.operators.dedup",
        "bloom_decontaminate": "marex_spark.operators.dedup",
        "semdedup": "marex_spark.operators.embed",
        "bloom_decontaminate_stream": "marex_spark.streaming.documents",
        "domain_top_n": "marex_spark.operators.curation",
        "theta_distinct": "marex_spark.operators.sketch",
        "theta_survivors": "marex_spark.operators.sketch",
        "theta_estimate": "marex_spark.operators.sketch",
    }
    if name in api:
        return getattr(import_module(api[name]), name)
    raise AttributeError(f"module 'marex_spark' has no attribute {name!r}")
