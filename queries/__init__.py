"""The query families behind ``__spark_entry__``: one module per family,
each holding its ``q_*`` functions and staging builds, its ``queries()``
and ``oracle_sql()`` (DuckDB SQL) dicts, and its bench ``warmup`` when it
has shared builds.  ``_common`` holds the helpers several families use."""
