from .events import tumbling_event_agg  # noqa: F401
from .profile import (  # noqa: F401
    drift_flags,
    windowed_profile_agg,
)
