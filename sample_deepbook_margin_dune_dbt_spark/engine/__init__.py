from .session import get_spark
from .model import model, snapshot, exposure, all_exposures, ModelConfig, ModelContext, get_model, all_models, clear_registry, enforce_contract
from .materialize import ConcurrentWriteError, TableStore
from .runner import Runner
from .snapshots import snapshot_scd2
from .unittests import unit_test, run_unit_tests, all_unit_tests

__all__ = [
    "snapshot_scd2",
    "unit_test",
    "run_unit_tests",
    "all_unit_tests",
    "snapshot",
    "exposure",
    "all_exposures",
    "get_spark",
    "model",
    "ModelConfig",
    "ModelContext",
    "get_model",
    "all_models",
    "clear_registry",
    "TableStore",
    "ConcurrentWriteError",
    "Runner",
]
