from .tables import TABLE_NAMES, load_table, load_tables, register_views
from .corpus import read_manifest_corpus
