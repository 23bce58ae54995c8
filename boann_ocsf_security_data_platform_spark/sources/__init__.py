from .catalog import TABLES, load_table, register_views  # noqa: F401
from .sarif import read_sarif  # noqa: F401
from .pyds import register_python_sources, split_json_array_verbatim  # noqa: F401
