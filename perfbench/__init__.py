"""End-to-end benchmark for gedixr_spark: three pipelines driven through
the package's public functions (see ``run.py``)."""
