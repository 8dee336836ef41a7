"""Extraction benchmark for open_ocr_spark.

Three seeded workloads (``html_pages``, ``mixed_formats``,
``recrawl_resume``) run at ``local[<cores>]`` from one driver process. All
timing is taken from outside the program, around calls into its public
functions; Spark's own SQL metrics are read after each action. See
``perfbench/README.md`` for the metric definitions and ``run.py`` for the
command line.
"""
