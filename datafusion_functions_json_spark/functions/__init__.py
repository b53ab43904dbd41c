"""JSON scalar functions: the public Column API (:mod:`.api`), the JVM
exact tier (:mod:`.jvm_tier`) and ``json_extract_multi``
(:mod:`.multi`). The Python tier — the path engine (:mod:`.core`), the
batch kernels (:mod:`.kernels`) and their Arrow-UDF bodies
(:mod:`.udfs`) — is imported on the first call the JVM tier does not
serve."""

from .api import *  # noqa: F401,F403
