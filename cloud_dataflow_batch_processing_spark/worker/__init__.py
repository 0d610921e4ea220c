"""The directory ``get_spark`` puts on the Python workers' ``PYTHONPATH``
of a local master, so their daemon, ``cdbp_worker_daemon``, imports as
a top-level module: no package ``__init__`` (which imports pyspark)
runs before it orders ``sys.path``."""
