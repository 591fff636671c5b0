from sidecar_spark.cache.fs import RemoteFS, FileStat
from sidecar_spark.cache.meta import MetaCache
from sidecar_spark.cache.pages import PageStore
from sidecar_spark.cache.write_cache import WriteCache
from sidecar_spark.cache.streams import CachingInputStream, CachingOutputStream
from sidecar_spark.cache.manager import CacheManager

__all__ = [
    "RemoteFS", "FileStat", "MetaCache", "PageStore",
    "WriteCache", "CachingInputStream", "CachingOutputStream", "CacheManager",
]
