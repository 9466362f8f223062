from .binary_files import mime_for_path, read_binary_files  # noqa: F401
from .tables import read_documents, read_pages_table, write_pages_table  # noqa: F401
