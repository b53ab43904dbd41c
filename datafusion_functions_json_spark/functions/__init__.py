"""JSON scalar functions: pure-python path engine (:mod:`.core`),
batch kernels (:mod:`.kernels`), their Arrow-UDF bodies (:mod:`.udfs`),
the JVM exact tier (:mod:`.jvm_tier`) and the public Column API
(:mod:`.api`)."""

from . import api, core, kernels, udfs  # noqa: F401
from .api import *  # noqa: F401,F403
