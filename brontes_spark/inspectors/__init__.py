from .accounting import action_deltas, usd_deltas, gas_usd
from .atomic_arb import atomic_arb_bundles
from .sandwich import sandwich_bundles
from .jit import jit_bundles
from .liquidations import liquidation_bundles
from .cex_dex import cex_dex_bundles
from .composer import run_composer

__all__ = [
    "action_deltas",
    "usd_deltas",
    "gas_usd",
    "atomic_arb_bundles",
    "sandwich_bundles",
    "jit_bundles",
    "liquidation_bundles",
    "cex_dex_bundles",
    "run_composer",
]
