"""pegasus-spark — PySpark-native polite crawl engine.

A from-scratch DataFrame-native reimplementation of the capabilities of
shriphani/pegasus (Clojure core.async crawler; see SURVEY.md for the full
mapping), over Iceberg-style tables of image+caption payloads.
"""

__version__ = "0.1.0"

from pegasus_spark import worker as _worker

_worker.install()
