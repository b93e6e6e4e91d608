"""Pure scalar functions shared by the Spark pipeline and the oracle.

Everything here is deterministic, dependency-free Python/numpy so the
pure-Python oracle and the distributed pipeline execute *the same code*
— that is how the byte-identical-extraction and score-parity gates are
met exactly rather than approximately.  ``hashing`` also holds the Spark
column of its hash beside the Python scalar, so the two are one
definition.
"""

from nilinker_spark.functions.normalize import (  # noqa: F401
    extract_text,
    norm_form,
    tokenize_entity,
)
