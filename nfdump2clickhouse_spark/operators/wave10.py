# Import path kept for the certified body of `flows_sampling_correction`,
# which imports from here; fold it into flows when that key is re-certified.
from .flows import write_netflow_v5  # noqa: F401
