SELECT * FROM
(SELECT count(*) AS h1 FROM lineitem, supplier
 WHERE l_suppkey = s_suppkey AND s_acctbal > 1000
   AND l_quantity BETWEEN 1 AND 6) s1,
(SELECT count(*) AS h2 FROM lineitem, supplier
 WHERE l_suppkey = s_suppkey AND s_acctbal > 1000
   AND l_quantity BETWEEN 7 AND 12) s2,
(SELECT count(*) AS h3 FROM lineitem, supplier
 WHERE l_suppkey = s_suppkey AND s_acctbal > 1000
   AND l_quantity BETWEEN 13 AND 18) s3,
(SELECT count(*) AS h4 FROM lineitem, supplier
 WHERE l_suppkey = s_suppkey AND s_acctbal > 1000
   AND l_quantity BETWEEN 19 AND 24) s4,
(SELECT count(*) AS h5 FROM lineitem, supplier
 WHERE l_suppkey = s_suppkey AND s_acctbal > 1000
   AND l_quantity BETWEEN 25 AND 30) s5,
(SELECT count(*) AS h6 FROM lineitem, supplier
 WHERE l_suppkey = s_suppkey AND s_acctbal > 1000
   AND l_quantity BETWEEN 31 AND 36) s6,
(SELECT count(*) AS h7 FROM lineitem, supplier
 WHERE l_suppkey = s_suppkey AND s_acctbal > 1000
   AND l_quantity BETWEEN 37 AND 42) s7,
(SELECT count(*) AS h8 FROM lineitem, supplier
 WHERE l_suppkey = s_suppkey AND s_acctbal > 1000
   AND l_quantity BETWEEN 43 AND 48) s8
